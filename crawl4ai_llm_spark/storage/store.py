"""ProductStore — the reference's BaseStorage contract as Spark programs.

Re-expresses the nine storage operators of the reference
(``crawl4ai_llm/storage/base.py:29-200``, implemented in
``crawl4ai_llm/storage/json_storage.py``) over a snapshot-committed table
whose files are hash-bucketed by id (``_bucket=K/``):

==============  ============================================================
reference op    realization (SURVEY.md §2)
==============  ============================================================
save_product    one-row batch through save_products (D1)
save_products   driver tier: ids derived on the driver, rows routed by the
                one bucket rule (hashing.spark_buckets), intra-batch and
                vs-existing dup checks on the touched buckets, ONE Arrow
                append commit; Spark tier: groupBy(id) + left-semi join,
                ONE distributed append (D2)
get_product     point lookup on the id's bucket, driver-side pyarrow over
                the bucket's decoded files (S6)
get_products    same read over the ids' buckets, input order restored (S7)
update_product  shallow merge ``{**existing, **update}`` (D3)
update_products batch merge, all-or-nothing pre-validation; the touched
                buckets are read, merged and rewritten (D4)
delete_product  rewrite of the id's bucket without the row (D5)
delete_products batch form, all-or-nothing (D6)
list_products   filter → sort → paginate → hydrate pipeline (Q1-Q7):
                driver tier: the live files' decoded rows filtered,
                sorted and paged on the driver, only the page's rows
                hydrated; Spark tier: list_products_df
==============  ============================================================

Two tiers. Row-list writes (save/update/delete), point reads and
list_products first try the DRIVER tier: pyarrow reads the touched
buckets' files (the whole table for a list), the checks, the merge or
the sort run in Arrow/Python, and ``Table.commit_arrow_buckets`` commits
one file per touched bucket — no Spark job at all (a one-row write as
Spark jobs costs 4-8 jobs and ~0.5-1 s of scheduling; a list, 4 jobs and
~0.35 s). It reads through the table's decoded-file memo
(``Table.read_file``), which each driver-tier commit also fills with the
files it wrote: data files are immutable, so a live file is decoded at
most once per store, and a file the store wrote itself never. Each call
reads HEAD once and reuses the table's cached snapshot, and a write
commits against the snapshot its read saw (a concurrent writer's commit
makes it raise ``StorageError``). On the store bench's 10k rows a point
read takes ~0.5 ms, a one-row save, update or delete ~2.5-4 ms and a
filtered list page ~2.5-4 ms (BENCH.md "ProductStore: one snapshot per
call"). Whatever that tier cannot reproduce
exactly — an empty store or bucket, a legacy or over-budget bucket or
table, unifiable-schema failures, new keys, caller metadata,
content-hash ids, values it does not type like Spark, dotted filter or
sort paths, non-string sort keys — falls through to the SPARK tier: for
saves, a distributed append; for updates and deletes, one _spark_rewrite
of the touched buckets, whose merge types each payload with
``from_json`` against the stored columns; for lists, list_products_df.
``tiers`` counts which tier each write and each list took (``driver`` /
``spark:<reason>``). The bulk tier (save_products_df) always runs on
Spark.
The reference's O(index) read-modify-write per call
(json_storage.py:195-221) is what capped it at ~356 rec/s (BASELINE.md).

Semantics rulings carried from executing the reference (SURVEY.md §5.2):
arbitrary undeclared fields are preserved (schema-on-read); intra-batch
duplicates — which corrupt data in the reference — are rejected
deterministically here; filter surface is all columns, with
``compat_mode=True`` restricting to the reference's indexed fields.
"""

from __future__ import annotations

import json
import math
from collections import Counter
from dataclasses import dataclass
from datetime import datetime, timezone
from functools import reduce
from typing import Any

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from crawl4ai_llm_spark.catalog import Catalog, Table
from crawl4ai_llm_spark.errors import DuplicateProductError, ProductNotFoundError

# Fields the reference can filter/sort on (its index projection,
# json_storage.py:211-219) — used when compat_mode=True.
REFERENCE_FILTERABLE = {"id", "sku", "url", "store_name", "title"}

ENGINE_COLS = {"id", "metadata", "_seq"}


@dataclass
class ListResult:
    """Result envelope — field-for-field the reference contract
    (base.py:189-196, json_storage.py:684-690)."""

    products: list[dict[str, Any]]
    total: int
    page: int
    page_size: int
    total_pages: int


def _lit_value(v: Any) -> Column:
    """Literal for a filter value, including whole-list equality
    (ref test_json_storage.py:527-530)."""
    if isinstance(v, list):
        return F.array(*[_lit_value(x) for x in v])
    return F.lit(v)


def _type_compatible(dtype: T.DataType, v: Any) -> bool:
    """Reference equality is Python ``!=`` — a type-mismatched comparison is
    simply 'no match' (json_storage.py:708), never an error. Spark would
    instead raise CAST_INVALID_INPUT trying to coerce, so pre-check."""
    if v is None:
        return True
    if isinstance(dtype, T.StringType):
        return isinstance(v, str)
    if isinstance(dtype, (T.IntegerType, T.LongType, T.ShortType, T.ByteType,
                          T.DoubleType, T.FloatType, T.DecimalType)):
        return isinstance(v, (int, float)) and not isinstance(v, bool)
    if isinstance(dtype, T.BooleanType):
        return isinstance(v, bool)
    if isinstance(dtype, T.ArrayType):
        return isinstance(v, list) and all(_type_compatible(dtype.elementType, x) for x in v)
    return True


def _arrow_cell(v: Any, typ) -> Any:
    """pyarrow ``to_pylist`` value → the shape Spark's Row.asDict(recursive)
    returns: maps become dicts (arrow yields key-value tuple lists), structs
    recurse, timestamps become naive local datetimes (PySpark's
    TimestampType.fromInternal contract)."""
    import pyarrow as pa

    if v is None:
        return None
    if pa.types.is_map(typ):
        return {k: _arrow_cell(x, typ.item_type) for k, x in v}
    if pa.types.is_struct(typ):
        return {f.name: _arrow_cell(v.get(f.name), f.type) for f in typ}
    if pa.types.is_list(typ) or pa.types.is_large_list(typ):
        return [_arrow_cell(x, typ.value_type) for x in v]
    if pa.types.is_timestamp(typ):
        from datetime import timezone

        if hasattr(v, "to_pydatetime"):  # ns-precision pandas.Timestamp
            v = v.to_pydatetime(warn=False)
        if v.tzinfo is None:  # INT96-era files: naive values are UTC instants
            v = v.replace(tzinfo=timezone.utc)
        return v.astimezone().replace(tzinfo=None)
    return v


def _column_values(col, typ) -> list:
    """One Arrow column's values as ``_arrow_cell`` shapes them, converted
    by column: primitives as ``to_pylist`` gives them, each distinct
    timestamp once (a batch shares one stamp), a struct one field column
    at a time; maps and lists cell by cell."""
    import pyarrow as pa
    import pyarrow.compute as pc

    if pa.types.is_struct(typ):
        arr = col.combine_chunks() if isinstance(col, pa.ChunkedArray) else col
        names = [f.name for f in typ]
        fields = [_column_values(c, f.type) for c, f in zip(arr.flatten(), typ)]
        if fields:
            rows = [dict(zip(names, vals)) for vals in zip(*fields)]
        else:
            rows = [{} for _ in range(len(arr))]
        if arr.null_count:
            rows = [r if ok else None for r, ok in zip(rows, arr.is_valid().to_pylist())]
        return rows
    if pa.types.is_timestamp(typ):
        distinct = pc.unique(col)
        shaped = [_arrow_cell(v, typ) for v in distinct.to_pylist()]
        return [shaped[i] for i in pc.index_in(col, value_set=distinct).to_pylist()]
    if pa.types.is_map(typ) or pa.types.is_list(typ) or pa.types.is_large_list(typ):
        return [_arrow_cell(v, typ) for v in col.to_pylist()]
    return col.to_pylist()


def _spark_type(v: Any):
    """The Arrow form of the type PySpark's createDataFrame infers for one
    non-None payload value — for the shapes the driver tier models: bool,
    int (long), float (double), str, and non-empty lists / str-keyed dicts
    (maps) of those. None for anything else (empty containers, all-None
    elements, mixed element types, datetimes, tuples, subclasses)."""
    import pyarrow as pa

    t = type(v)
    if t is bool:
        return pa.bool_()
    if t is int:
        return pa.int64()
    if t is float:
        return pa.float64()
    if t is str:
        return pa.string()
    if t is list:
        e = _common_type(v)
        return pa.list_(e) if e is not None else None
    if t is dict and all(type(k) is str for k in v):
        e = _common_type(v.values())
        return pa.map_(pa.string(), e) if e is not None else None
    return None


def _common_type(values) -> Any:
    """The single inferred type of the non-None values; None when there is
    none or they disagree (Spark would widen, fail or infer NullType)."""
    types = {_spark_type(x) for x in values if x is not None}
    return types.pop() if len(types) == 1 and None not in types else None


def _same_type(inferred, stored) -> bool:
    """Inferred == stored up to nullability and nested field names (Spark
    writes map entries and list elements under its own names)."""
    import pyarrow as pa

    if pa.types.is_list(inferred) and pa.types.is_list(stored):
        return _same_type(inferred.value_type, stored.value_type)
    if pa.types.is_map(inferred) and pa.types.is_map(stored):
        return _same_type(inferred.key_type, stored.key_type) and _same_type(
            inferred.item_type, stored.item_type
        )
    return inferred == stored


def _raise_intra_batch_dups(ids: list[str]) -> None:
    """Intra-batch duplicate ids, sorted, first 20 + truncation flag (the
    same payload shape as the vs-existing check and the bulk tier)."""
    seen: set[str] = set()
    intra = sorted({i for i in ids if i in seen or seen.add(i)})
    if intra:
        raise DuplicateProductError(intra[:20], truncated=len(intra) > 20)


def _payload_json(v: Any) -> str:
    """An update payload as JSON. Other values (datetimes, decimals) go as
    their str(), which from_json parses by the target type — a timestamp
    in the session time zone — or rejects like any other mismatch."""
    return json.dumps(v, default=str)


def _utc_now() -> datetime:
    """One batch stamp, as the naive UTC wall clock pyarrow stores."""
    return datetime.now(timezone.utc).replace(tzinfo=None)


class ProductStore:
    def __init__(
        self,
        spark: SparkSession,
        warehouse: str,
        compat_mode: bool = False,
        deterministic_ids: bool = True,
        n_buckets: int = 16,
    ):
        self.spark = spark
        self.catalog = Catalog(spark, warehouse)
        self.n_buckets = n_buckets
        # hash-bucketed by id: point lookups read 1/n of the files and
        # updates/deletes rewrite only touched buckets (catalog.py
        # replace_buckets) — at 100 TB this is Iceberg bucket(n, id)
        self.table: Table = self.catalog.table(
            "products", merge_schema=True, bucket_by=("id", n_buckets)
        )
        self.compat_mode = compat_mode
        # reference falls back to uuid4 (json_storage.py:90); deterministic
        # mode derives the id from a content hash instead so runs replay.
        self.deterministic_ids = deterministic_ids
        # which tier each save/update/delete and each list_products took:
        # "driver" or "spark:<reason>" — a silent fallback shows up as a count
        self.tiers: Counter[str] = Counter()

    # ------------------------------------------------------------------ reads

    def _df(self) -> DataFrame | None:
        return self.table.read()

    def _buckets_of(self, ids: list[str]) -> set[int]:
        """The ids' buckets by the driver-side bucket rule
        (``hashing.spark_buckets``, bit-identical to Spark's
        ``pmod(F.hash(id), n)``) — the rule every write files rows by, so
        pruning can never miss a file."""
        from crawl4ai_llm_spark.frontier.hashing import spark_buckets

        return set(spark_buckets(ids, self.n_buckets).tolist())

    def _df_for_ids(self, ids: list[str]) -> DataFrame | None:
        return self.table.read(buckets=self._buckets_of(ids))

    def _resolve(self, df: DataFrame, field: str) -> Column | None:
        """Resolve a (possibly dotted) field name against the live schema.

        Reference resolves one-level ``metadata.<key>`` paths
        (json_storage.py:704-709); engine resolves any one-level struct or
        map path against whatever schema the data actually has.
        """
        names = set(df.columns)
        if field in names:
            return F.col(field)
        if "." in field:
            head, rest = field.split(".", 1)
            if head not in names:
                return None
            dtype = df.schema[head].dataType
            if isinstance(dtype, T.StructType):
                if rest in dtype.fieldNames():
                    return F.col(head).getField(rest)
                return None
            if isinstance(dtype, T.MapType):
                return F.col(head).getItem(rest)
        return None

    def _filterable(self, field: str) -> bool:
        if not self.compat_mode:
            return True
        # reference surface: indexed fields + id + metadata.* (SURVEY §5.2)
        return field in REFERENCE_FILTERABLE or field.startswith("metadata.")

    # ------------------------------------------------------------------ writes

    @staticmethod
    def _normalize_caller_metadata(products: list[dict[str, Any]]) -> list[dict[str, Any]]:
        """Reference metadata-merge semantics (json_storage.py:189-192,
        260-263): caller-supplied metadata KEYS are preserved; the engine
        overwrites ``created_at``/``updated_at`` with fresh stamps on every
        save. Realized by normalizing each record's metadata dict to a
        ``Row`` over the batch-union of caller keys (so createDataFrame
        infers ONE struct) minus the engine stamps — the stamps are added
        in-plan by _ensure_id_and_stamps. A record fetched via get_product
        therefore round-trips through save_products: its engine-shaped
        metadata reduces to zero caller keys and is simply re-stamped
        (ADVICE r03 closure)."""
        from pyspark.sql import Row

        for i, p in enumerate(products):
            m = p.get("metadata")
            if m is not None and not isinstance(m, dict):
                raise ValueError(f"record at position {i}: metadata must be a dict")
        # keys whose value is None in EVERY record are dropped: an all-None
        # column has no inferable Spark type (NullType would crash deep in
        # the parquet writer), and schema-on-read treats absent ≡ None —
        # the same policy ProductData.to_record applies to its fields
        caller_keys = sorted(
            {
                k
                for p in products
                for k, v in (p.get("metadata") or {}).items()
                if k not in ("created_at", "updated_at") and v is not None
            }
        )
        if not caller_keys:
            return [{k: v for k, v in p.items() if k != "metadata"} for p in products]
        return [
            {
                **p,
                "metadata": Row(
                    **{k: (p.get("metadata") or {}).get(k) for k in caller_keys}
                ),
            }
            for p in products
        ]

    def _rows_df(self, rows: list[dict[str, Any]]) -> DataFrame:
        """Dicts → DataFrame with the union of all keys (missing ⇒ null),
        preserving arbitrary undeclared fields (schema-on-read parity)."""
        keys: list[str] = []
        for r in rows:
            for k in r:
                if k not in keys:
                    keys.append(k)
        normalized = [{k: r.get(k) for k in keys} for r in rows]
        return self.spark.createDataFrame(normalized)

    def _ensure_id_and_stamps(
        self,
        df: DataFrame,
        next_seq: int | None,
        preserve_stamps: bool = False,
        seq_type: T.DataType | None = None,
    ) -> DataFrame:
        """E1 id hierarchy + E4 timestamps + save-order sequence.

        ``_seq`` is ``next_seq`` + the row's input position, cast to
        ``seq_type`` (the stored width; parquet schema merging refuses to
        mix int32 and int64 files). ``next_seq=None`` (the bulk tier)
        leaves the raw partition-embedded position instead —
        save_products_df densifies it once the batch is cached.

        id precedence (verified ref behavior, json_storage.py:61-90):
        explicit id → "{store_name}_{sku}" → url-hash id → random.
        Pure column expressions — no Python per row.

        ``preserve_stamps``: the MIGRATION mode (sources/reference_json) —
        caller-supplied created_at/updated_at survive instead of being
        engine-overwritten (null stamps still fill with now).
        """
        cols = set(df.columns)
        id_col = F.col("id").cast("string") if "id" in cols else F.lit(None).cast("string")
        store = F.col("store_name") if "store_name" in cols else F.lit(None).cast("string")
        sku = F.col("sku") if "sku" in cols else F.lit(None).cast("string")
        url = F.col("url") if "url" in cols else F.lit(None).cast("string")
        fallback = (
            F.sha2(F.to_json(F.struct(*[F.col(c) for c in sorted(cols)])), 256)
            if self.deterministic_ids
            else F.expr("uuid()")
        )
        generated = F.coalesce(
            id_col,
            F.when(store.isNotNull() & sku.isNotNull(), F.concat_ws("_", store, sku)),
            # reference: f"url_{hash(url)}" with process-salted hash
            # (json_storage.py:87); engine uses murmur3 (deterministic,
            # SURVEY §8.3 ruling).
            F.when(url.isNotNull(), F.concat(F.lit("url_"), F.hash(url).cast("string"))),
            fallback,
        )
        now = F.current_timestamp()
        out = df.withColumn("id", generated)
        # metadata merge (reference json_storage.py:189-192): caller struct
        # fields carry through, engine overwrites the two stamps
        meta_fields: list[Column] = []
        if "metadata" in cols:
            dtype = df.schema["metadata"].dataType
            if not isinstance(dtype, T.StructType):
                raise ValueError(
                    "metadata column must be a struct (caller keys are "
                    "preserved; created_at/updated_at are engine-stamped)"
                )
            meta_fields = [
                F.col("metadata").getField(f.name).alias(f.name)
                for f in dtype.fields
                if f.name not in ("created_at", "updated_at")
            ]
        created, updated = now, now
        if preserve_stamps and "metadata" in cols:
            dtype = df.schema["metadata"].dataType
            names = dtype.fieldNames()
            if "created_at" in names:
                created = F.coalesce(
                    F.col("metadata").getField("created_at").cast("timestamp"), now
                )
            if "updated_at" in names:
                updated = F.coalesce(
                    F.col("metadata").getField("updated_at").cast("timestamp"), now
                )
        out = out.withColumn(
            "metadata",
            F.struct(*meta_fields, created.alias("created_at"), updated.alias("updated_at")),
        )
        if next_seq is None:
            # bulk tier: no meaningful insertion order — a partition-embedded
            # monotonic id avoids the single-partition ranking window
            return out.withColumn("_seq", F.monotonically_increasing_id())
        seq = F.lit(next_seq) + F.row_number().over(self._save_order_window()) - 1
        return out.withColumn("_seq", seq if seq_type is None else seq.cast(seq_type))

    @staticmethod
    def _save_order_window():
        from pyspark.sql.window import Window

        # input order within a batch — monotonically_increasing_id preserves
        # the incoming partition order for a driver-created batch
        return Window.orderBy(F.monotonically_increasing_id())

    def _next_seq(self, snap=None) -> int:
        """The first ``_seq`` a save gives, by the counters of ``snap`` (the
        snapshot the caller read; default: the current one)."""
        if snap is None:
            snap = self.table.current_snapshot()
        return int(snap.counters.get("max_seq", 0)) + 1 if snap else 1

    def save_product(self, product: dict[str, Any], validate: bool = False) -> str:
        """D1 — single insert; raises DuplicateProductError on id collision.
        ``validate=True`` runs the payload through the ProductData model
        first (reference Pydantic parity, models.py) — required title,
        http(s) url, typed prices/images — raising ValueError before any
        write."""
        if validate:
            from crawl4ai_llm_spark.models import ProductData

            product = {**ProductData.from_dict(product).to_record(),
                       **({"id": product["id"]} if "id" in product else {})}
        return self.save_products([product])[0]

    def _content_index(self):
        """The store's persisted content-dedup index (MinHash band keys of
        every saved row's checked text column) — lives beside the product
        table under the same warehouse."""
        import os

        from crawl4ai_llm_spark.operators.dedup_store import DedupIndex

        return DedupIndex(self.spark, os.path.join(self.catalog.warehouse, "content_index"))

    def save_products_df(
        self,
        batch: DataFrame,
        reject_near_dups: str | None = None,
        near_dup_tau: float = 0.5,
        on_near_dup: str = "reject",
        preserve_metadata_stamps: bool = False,
    ) -> int:
        """D2, bulk tier — ingest a DataFrame without any driver-side row
        materialization. Same duplicate semantics as save_products (both
        intra-batch and vs-existing rejected with sample ids), but checks
        run as distributed counts and the ids never leave the executors —
        this is the path that ingests millions of records per commit.
        Returns the number of rows written.

        ``reject_near_dups=<text column>`` adds a CONTENT tier to the D1
        duplicate check: arriving rows whose text near-duplicates an
        already-saved row at exact n-gram Jaccard ≥ ``near_dup_tau`` raise
        ``NearDuplicateContentError`` (``on_near_dup="reject"``, listing
        sample pairs) or are silently dropped (``on_near_dup="skip"`` —
        the crawl-pipeline mode; the non-duplicate remainder commits).
        Cost shape: the stored corpus is NEVER rescanned — the batch's
        MinHash band keys equi-join the store's persisted band-key index
        (dedup_store.DedupIndex, maintained here on every save), and
        verification reads only the matched stored rows. RECALL is the
        MinHash banding curve, NOT a deterministic guarantee: a true pair
        at Jaccard J is missed with probability (1 − J⁴)³² — negligible
        (~1.5e-15) at J ≥ 0.9 but ~13% right AT the default tau 0.5, so
        borderline near-dups can commit; flagged matches are always TRUE
        matches (exact verification). See DedupIndex.match_documents.
        Intra-batch content dups are NOT checked (the id tier handles
        identity; dedup the batch itself with operators/dedup first if
        needed).
        The index is derived data: if it diverges from the store (a crash
        between the two commits), it is rebuilt from the live table —
        at Iceberg scale this becomes an incremental MERGE repair."""
        if reject_near_dups is not None and reject_near_dups not in batch.columns:
            raise ValueError(f"reject_near_dups column {reject_near_dups!r} not in batch")
        if on_near_dup not in ("reject", "skip"):
            raise ValueError("on_near_dup must be 'reject' or 'skip'")
        # a struct-typed metadata column merges per the reference semantics
        # (_ensure_id_and_stamps); any other type is rejected there loudly.
        # preserve_metadata_stamps = migration mode: original
        # created_at/updated_at survive (sources/reference_json)
        batch = self._ensure_id_and_stamps(
            batch, None, preserve_stamps=preserve_metadata_stamps
        ).cache()
        # every per-call cache lands here and is unpersisted on exit — the
        # content tier's match plans are unique per save and would leak
        # (code-review r04); "skip" mode also rebinds batch to a filtered
        # view of the first entry
        caches: list = [batch]
        try:
            # samples are sorted BEFORE the limit so the error payload is
            # deterministic run-to-run (an unordered .limit(20) returns
            # whichever partitions answer first)
            intra = (
                batch.groupBy("id").count().where(F.col("count") > 1).select("id")
            )
            intra_sample = [r["id"] for r in intra.orderBy("id").limit(21).collect()]
            if intra_sample:
                raise DuplicateProductError(
                    intra_sample[:20], truncated=len(intra_sample) > 20
                )
            existing = self._df()
            if existing is not None:
                dups = existing.select("id").join(batch.select("id"), "id", "left_semi")
                dup_sample = [r["id"] for r in dups.orderBy("id").limit(21).collect()]
                if dup_sample:
                    raise DuplicateProductError(
                        dup_sample[:20], truncated=len(dup_sample) > 20
                    )
            prepared = None
            if reject_near_dups is not None:
                batch, prepared = self._content_dup_tier(
                    batch, existing, reject_near_dups, near_dup_tau, on_near_dup, caches
                )
            # dense _seq from _next_seq(): the partition-embedded position
            # (partition << 33 | row) becomes next_seq + the slots of the
            # earlier partitions + row, in the stored width — a bulk load
            # into a save-started store stays int32, and max_seq stays small
            part, row = F.shiftright("_seq", 33), F.col("_seq").bitwiseAND((1 << 33) - 1)
            sizes = batch.groupBy(part.alias("p")).agg(
                F.count("*").alias("n"), F.max(row).alias("m")
            ).collect()
            n = sum(r["n"] for r in sizes)
            if n == 0:
                return 0  # every row skipped as a near-dup: nothing to commit
            offsets, next_seq = [], self._next_seq()
            for r in sorted(sizes, key=lambda r: r["p"]):
                offsets += [F.lit(r["p"]).cast("long"), F.lit(next_seq).cast("long")]
                next_seq += r["m"] + 1  # "skip" mode leaves gaps: count slots
            seq_type = existing.schema["_seq"].dataType if existing is not None else T.LongType()
            batch = batch.withColumn(
                "_seq", (F.create_map(*offsets)[part] + row).cast(seq_type)
            )
            self.table.append(batch, counters={"max_seq": next_seq - 1})
            if reject_near_dups is not None:
                # maintain the index: the committed batch's band keys append.
                # text_col_crc must ride along — sync_documents requires it
                # to match on the NEXT save (a missing tag reads as a
                # changed checked column and would force a full rebuild)
                import zlib

                if prepared is not None:
                    prepared = prepared.join(
                        batch.select(F.col("id").alias("doc_id")), "doc_id", "left_semi"
                    )
                self._content_index().ingest_documents(
                    batch.select(
                        F.col("id").alias("doc_id"),
                        F.col(reject_near_dups).cast("string").alias("text"),
                    ),
                    prepared=prepared,
                    counters={
                        "data_snapshot": self.table.current_snapshot().snapshot_id,
                        "text_col_crc": zlib.crc32(reject_near_dups.encode()),
                    },
                )
            return n
        finally:
            for c in caches:
                c.unpersist()

    def _content_dup_tier(
        self,
        batch: DataFrame,
        existing: DataFrame | None,
        text_col: str,
        tau: float,
        on_near_dup: str,
        caches: list,
    ) -> DataFrame:
        """Batch-vs-stored content check; returns (batch, prepared) —
        the batch possibly filtered in "skip" mode, and the batch's
        cached prepare_batch frame (None when no match ran) for the
        post-commit ingest to reuse. Syncs the index first
        (DedupIndex.sync_documents): a count divergence (crash between
        data and index commits, or an unindexed save), a changed checked
        COLUMN, a signature-scheme bump, or a pending ``stale`` flag
        (set by update_products — an edit to indexed text at an unchanged
        row count, invisible to any count probe) each rebuild it from the
        live table — idempotent, derived data. Per-call caches land in
        ``caches`` (unpersisted by save_products_df's finally — each
        save's plans are unique, so they would otherwise leak)."""
        import zlib

        from crawl4ai_llm_spark.errors import NearDuplicateContentError

        if existing is None:
            return batch, None
        idx = self._content_index()
        existing_docs = existing.select(
            F.col("id").alias("doc_id"), F.col(text_col).cast("string").alias("text")
        )
        if existing.limit(1).count() == 0:
            return batch, None
        idx.sync_documents(
            existing_docs, tags={"text_col_crc": zlib.crc32(text_col.encode())}
        )
        batch_docs = batch.select(
            F.col("id").alias("doc_id"), F.col(text_col).cast("string").alias("text")
        )
        # ONE signature pass for this batch, shared with the post-commit
        # ingest (it ran twice per save before)
        prepared = idx.prepare_batch(batch_docs).cache()
        caches.append(prepared)
        matches = idx.match_documents(
            batch_docs, existing_docs, tau=tau, caches=caches, prepared=prepared
        ).cache()
        caches.append(matches)
        sample = matches.orderBy("new_id", "orig_id").limit(21).collect()
        if not sample:
            return batch, prepared
        if on_near_dup == "reject":
            raise NearDuplicateContentError(
                [(r["new_id"], r["orig_id"], r["jaccard"]) for r in sample[:20]],
                truncated=len(sample) > 20,
            )
        # skip mode: drop every near-dup row, keep the remainder (anti-join
        # reading the cached batch and the cached match list — the list is
        # bounded by true duplicates)
        return batch.join(
            matches.select(F.col("new_id").alias("id")).distinct(), "id", "left_anti"
        ), prepared

    def save_products(self, products: list[dict[str, Any]]) -> list[str]:
        """D2 — batch insert, one atomic commit.

        Empty fast-path returns [] (ref json_storage.py:239-240). All
        duplicate checks happen BEFORE any write. Intra-batch duplicates are
        rejected (reference would corrupt data here — SURVEY §2.2 D2 ruling).
        Driver tier first (_driver_save); the Spark tier below handles
        whatever it declines.
        """
        if not products:
            return []
        products = self._normalize_caller_metadata(products)
        # a key that is None in every record has no inferable Spark type
        # (CANNOT_DETERMINE_TYPE): drop it before either tier, absent ≡ None
        present = {k for p in products for k, v in p.items() if v is not None}
        products = [{k: v for k, v in p.items() if k in present} for p in products]
        ids = self._driver_save(products)
        if ids is not None:
            return ids
        existing = self._df()
        batch = self._rows_df(products)  # schema-on-read inference
        batch = self._ensure_id_and_stamps(
            batch,
            self._next_seq(),
            seq_type=existing.schema["_seq"].dataType if existing is not None else None,
        )
        batch = batch.cache()
        try:
            ids = [r["id"] for r in batch.select("id").collect()]
            _raise_intra_batch_dups(ids)
            if existing is not None:
                # dup-vs-existing = semi-join of the (small) batch against
                # the table; Catalyst broadcasts the batch side.
                # semi-join with the small batch broadcast as the build side
                # cap the sample like the bulk tier: a caller replaying a
                # huge batch must not pull every conflicting id to the driver
                # (sorted before the limit — deterministic payload)
                dups = [
                    r["id"]
                    for r in existing.select("id")
                    .join(F.broadcast(batch.select("id")), "id", "left_semi")
                    .orderBy("id")
                    .limit(21)
                    .collect()
                ]
                if dups:
                    raise DuplicateProductError(dups[:20], truncated=len(dups) > 20)
            self.table.append(
                batch, counters={"max_seq": self._next_seq() + len(ids) - 1}
            )
            return ids
        finally:
            batch.unpersist()

    def compact(self, target_partitions: int | None = None) -> None:
        """Maintenance rewrite of the live file set — and the MIGRATION
        entry point for legacy (pre-bucketing) warehouses: the rewrite
        re-derives every row's id hash bucket (catalog.Table._write_files),
        after which update/delete mutations (which require a fully bucketed
        layout, catalog.Table.replace_buckets) work again."""
        self.table.compact(
            target_partitions or self.spark.sparkContext.defaultParallelism
        )

    # ------------------------------------------------------------ driver tier

    # files in the touched buckets above which the driver-side arrow path
    # stops paying (footer scans grow linearly; a store that hot needs
    # compact() anyway) — the one gate of every driver-tier read and write
    ARROW_LOOKUP_MAX_FILES = 64
    # live rows above which list_products leaves the driver: its whole-table
    # scan holds every filtered row in driver memory and sorts them there.
    # Measured on the store bench's rows (BENCH.md "list_products tiers"):
    # an unfiltered list loses to Spark between 500k and 1M rows, and peaks
    # at ~128 B/row of Arrow memory — 250k rows keeps a 2x margin on the
    # crossover and the memory under 32 MB
    ARROW_LIST_MAX_ROWS = 250_000

    def _arrow_scan(
        self,
        ids: list[str] | None,
        whole_buckets: bool = False,
        write: bool = False,
        where=None,
    ):
        """Driver-side pyarrow read — (fallback reason, data, snapshot):
        the snapshot is the one read (None for an empty table), so the
        caller's commit names it as its parent and reads HEAD no more.

        Reads only the files of the ids' buckets (plus legacy unbucketed
        files, which may hold any id): the files' schemas unify (the
        mergeSchema analog), then either the rows whose id is among
        ``ids`` (data = one Table with the unified schema) or, with
        ``whole_buckets``, every row of each touched bucket (data =
        {bucket: Table}, what a bucket rewrite needs). ``write`` declines
        legacy layouts, which no bucket-scoped commit may touch. data is
        None when no file can hold the ids.

        ``ids=None`` is the whole-table mode of list_products: every live
        file, the files' row counts summed against ARROW_LIST_MAX_ROWS,
        and ``where(schema)`` — given the whole table's unified schema —
        returns (reason, conditions); data is then (every row, conditions)
        for the caller to filter.

        In all three modes the schemas and row counts, then the rows, come
        from the table's decoded-file memo (``Table.file_footer`` /
        ``Table.read_file``): a live file is decoded once, not once per
        call, and the footer of a file not decoded yet is read before any
        row of it, so a declined scan decodes nothing. A file whose schema
        already equals the unified one is used as decoded, with no cast;
        the others are conformed to it (``catalog.conform``: missing
        columns as nulls, the rest cast) once per unified schema, not on
        every call as the pyarrow dataset scan this replaced did.

        A bucket-pruned read through Spark is still ~40 per-query
        overheads (~0.2 s); this read is a few ms, about 1 ms for a point
        lookup once its bucket is decoded. Reasons to decline — the caller
        then runs its Spark tier: ``empty`` (no snapshot), ``legacy``,
        ``files`` (over ARROW_LOOKUP_MAX_FILES), ``schema`` (schemas don't
        unify, or a file pyarrow can't open), ``rows`` (over
        ARROW_LIST_MAX_ROWS), or whatever ``where`` returns."""
        import pyarrow as pa
        import pyarrow.compute as pc

        snap = self.table.current_snapshot()
        if snap is None or not snap.files:
            return "empty", None, snap
        file_buckets = self.table.file_buckets(snap)
        if write and None in file_buckets.values():
            return "legacy", None, snap
        files = snap.files
        if ids is not None:
            buckets = self._buckets_of(ids)
            files = [f for f, b in file_buckets.items() if b is None or b in buckets]
        if len(files) > self.ARROW_LOOKUP_MAX_FILES:
            return "files", None, snap
        if not files:
            return None, None, snap
        try:
            footers = [self.table.file_footer(f) for f in files]
            schema = pa.unify_schemas([s for s, _ in footers])
            if ids is None:
                if sum(n for _, n in footers) > self.ARROW_LIST_MAX_ROWS:
                    return "rows", None, snap
                reason, conds = where(schema)
                if reason is not None:
                    return reason, None, snap
            tables = [self.table.read_file(f, schema) for f in files]
            if ids is None:
                return None, (pa.concat_tables(tables), conds), snap
            if not whole_buckets:
                tbl = pa.concat_tables(tables)
                wanted = pc.is_in(tbl.column("id"), pa.array(ids, pa.string()))
                return None, tbl.filter(wanted), snap
            parts: dict[int, list] = {}
            for f, t in zip(files, tables):
                parts.setdefault(file_buckets[f], []).append(t)
            return None, {k: pa.concat_tables(v) for k, v in parts.items()}, snap
        except (OSError, pa.ArrowException):
            # un-unifiable schemas, a warehouse URI pyarrow can't open though
            # Spark can, or a file vacuumed between current_snapshot() and
            # the footer read — all degrade to the Spark path, never crash
            return "schema", None, snap

    @staticmethod
    def _rows(tbl) -> list[dict[str, Any]]:
        """Arrow rows → records in Row.asDict(recursive) shape, in order,
        converted a column at a time (``_column_values``)."""
        names, cols = [], []
        for n, c in zip(tbl.schema.names, tbl.columns):
            if n != "_seq":
                names.append(n)
                cols.append(_column_values(c, c.type))
        return [dict(zip(names, vals)) for vals in zip(*cols)]

    def _spark_tier(self, reason: str) -> None:
        self.tiers[f"spark:{reason}"] += 1

    @staticmethod
    def _driver_ids(products: list[dict[str, Any]]) -> list[str | None]:
        """_ensure_id_and_stamps' id precedence evaluated on the driver
        (explicit → store_sku → url_<murmur3>, the url hashes in one
        kernel call); None where only the content-hash / uuid fallback
        applies or a part is not a str."""
        from crawl4ai_llm_spark.frontier.hashing import spark_hash_strs

        ids: list[str | None] = []
        by_url: dict[int, str] = {}
        for i, p in enumerate(products):
            pid, store, sku, url = (p.get(k) for k in ("id", "store_name", "sku", "url"))
            if pid is not None:
                ids.append(pid if type(pid) is str else None)
            elif store is not None and sku is not None:
                ids.append(f"{store}_{sku}" if type(store) is str and type(sku) is str else None)
            else:
                ids.append(None)
                if type(url) is str:
                    by_url[i] = url
        if by_url:
            for i, h in zip(by_url, spark_hash_strs(list(by_url.values())).tolist()):
                ids[i] = f"url_{h}"
        return ids

    def _driver_save(self, products: list[dict[str, Any]]) -> list[str] | None:
        """save_products without a Spark job; None when declined.

        The new rows are typed by the stored schema of their buckets, and
        only where PySpark's inference would yield that same type — so the
        file written is the one the Spark tier would write: columns in
        createDataFrame's sorted-key order, id, a ``{created_at,
        updated_at}`` struct stamped with one ``now``, ``_seq`` in input
        order. ``_seq`` keeps the stored integer width, as the Spark tiers
        do: int32 in a store begun by save_products, int64 in one begun by
        a bulk load (parquet schema merging refuses to mix the two)."""
        import numpy as np
        import pyarrow as pa

        from crawl4ai_llm_spark.frontier.hashing import spark_buckets

        if any("metadata" in p for p in products):
            return self._spark_tier("metadata")
        ids = self._driver_ids(products)
        if None in ids:
            return self._spark_tier("id")
        keys = sorted({k for p in products for k in p})
        inferred = {k: _common_type(p.get(k) for p in products) for k in keys}
        if None in inferred.values():
            return self._spark_tier("type")
        reason, existing, snap = self._arrow_scan(ids, write=True)
        if reason is None and existing is None:
            reason = "empty"  # no stored file in these buckets to type against
        if reason is not None:
            return self._spark_tier(reason)
        stored = existing.schema
        if any(k not in stored.names for k in keys):
            return self._spark_tier("key")
        if not all(_same_type(inferred[k], stored.field(k).type) for k in keys):
            return self._spark_tier("type")
        seq_type = stored.field("_seq").type if "_seq" in stored.names else None
        if seq_type is None or not pa.types.is_integer(seq_type):
            return self._spark_tier("schema")
        n = len(products)
        next_seq = self._next_seq(snap)
        stamp = pa.array([_utc_now()] * n, pa.timestamp("us"))
        names = keys + ([] if "id" in keys else ["id"]) + ["metadata", "_seq"]
        try:
            arrays = [
                pa.array(ids, pa.string())
                if k == "id"
                else pa.array([p.get(k) for p in products], stored.field(k).type)
                for k in names[:-2]
            ]
            seq = pa.array(range(next_seq, next_seq + n), seq_type)
        except (pa.ArrowException, OverflowError, TypeError, ValueError):
            return self._spark_tier("type")
        arrays.append(
            pa.StructArray.from_arrays([stamp, stamp], names=["created_at", "updated_at"])
        )
        arrays.append(seq)
        self.tiers["driver"] += 1
        _raise_intra_batch_dups(ids)
        dups = sorted(set(existing.column("id").to_pylist()))
        if dups:
            raise DuplicateProductError(dups[:20], truncated=len(dups) > 20)
        batch = pa.Table.from_arrays(arrays, names=names)
        buckets = spark_buckets(ids, self.n_buckets)
        self.table.commit_arrow_buckets(
            {int(k): batch.take(np.flatnonzero(buckets == k)) for k in np.unique(buckets)},
            replace=False,
            counters={"max_seq": next_seq + n - 1},
            parent=snap,
        )
        return ids

    def _driver_rewrite(self, ids: list[str], updates: dict[str, dict[str, Any]] | None) -> bool:
        """update_products (``updates`` = folded payload per id) or
        delete_products (``updates`` None) without a Spark job: read the
        touched buckets whole, check every id exists (all-or-nothing),
        merge or drop in Arrow, commit the rewritten buckets. False when
        declined (nothing counted as driver, nothing written)."""
        import pyarrow as pa
        import pyarrow.compute as pc

        if updates is not None and any("metadata" in u for u in updates.values()):
            self._spark_tier("metadata")
            return False
        reason, tables, snap = self._arrow_scan(ids, whole_buckets=True, write=True)
        if reason is not None:
            self._spark_tier(reason)
            return False
        tables = tables or {}
        value_set = pa.array(ids, pa.string())
        masks = {k: pc.is_in(t.column("id"), value_set=value_set) for k, t in tables.items()}
        found = {
            i for k, t in tables.items() for i in t.column("id").filter(masks[k]).to_pylist()
        }
        missing = sorted(set(ids) - found)
        now = _utc_now()  # one stamp per batch, across every bucket
        out: dict[int, Any] = {}
        for k, t in tables.items():
            keep = t.filter(pc.invert(masks[k]))
            if updates is not None and not missing:
                merged = self._merge_rows(t.filter(masks[k]), updates, now)
                if merged is None:
                    return False
                keep = pa.concat_tables([keep, merged])
            out[k] = keep
        self.tiers["driver"] += 1
        if missing:
            raise ProductNotFoundError(missing)
        self.table.commit_arrow_buckets(out, replace=True, counters=snap.counters, parent=snap)
        return True

    def _merge_rows(self, matched, updates: dict[str, dict[str, Any]], now: datetime):
        """``{**existing, **update}`` over the matched rows of one bucket,
        ``metadata.updated_at`` bumped to the batch's ``now``; None
        (counted as a Spark fallback) when a key is new to the stored
        schema or a value would not type like the stored column."""
        import pyarrow as pa

        schema = matched.schema
        keys = {k for u in updates.values() for k in u if k != "id"}
        if any(k.startswith("_") or k not in schema.names for k in keys):
            return self._spark_tier("key")
        meta = schema.field("metadata").type if "metadata" in schema.names else None
        if meta is None or not pa.types.is_struct(meta) or meta.get_field_index("updated_at") < 0:
            return self._spark_tier("schema")
        for u in updates.values():
            for k, v in u.items():
                if k != "id" and v is not None:
                    t = _spark_type(v)
                    if t is None or not _same_type(t, schema.field(k).type):
                        return self._spark_tier("type")
        row_ids = matched.column("id").to_pylist()
        try:
            for k in keys:
                old = matched.column(k).to_pylist()
                vals = [
                    updates[r][k] if k in updates[r] else old[i] for i, r in enumerate(row_ids)
                ]
                f = schema.field(k)
                matched = matched.set_column(
                    schema.get_field_index(k), f, pa.array(vals, f.type)
                )
        except (pa.ArrowException, OverflowError, TypeError, ValueError):
            return self._spark_tier("type")
        m = matched.column("metadata").combine_chunks()
        fields = list(meta)
        children = [m.field(f.name) for f in fields]
        u_at = meta.get_field_index("updated_at")
        children[u_at] = pa.array([now] * len(m), fields[u_at].type)
        j = schema.get_field_index("metadata")
        return matched.set_column(
            j, schema.field(j), pa.StructArray.from_arrays(children, fields=fields)
        )

    # ------------------------------------------------------------------ lookups

    def _lookup(self, ids: list[str]) -> dict[str, dict[str, Any]]:
        """{id: record} for the stored ids among ``ids`` — the driver-tier
        bucket read when _arrow_scan takes it, else the same bucket-pruned
        read as a Spark scan."""
        reason, tbl, _ = self._arrow_scan(ids)
        if reason is None:
            return {r["id"]: r for r in self._rows(tbl)} if tbl is not None else {}
        df = self._df_for_ids(ids)
        if df is None:
            return {}
        rows = df.where(F.col("id").isin(ids)).drop("_seq").collect()
        return {r["id"]: r.asDict(recursive=True) for r in rows}

    def get_product(self, product_id: str) -> dict[str, Any]:
        """S6 — point lookup; ProductNotFoundError if absent. Reads only the
        id's bucket (1/n of the live files) — driver-side via pyarrow when
        the bucket's file count is small (the common case; <50 ms at 200k
        rows vs ~0.2 s for the distributed read), else the same
        bucket-pruned Spark scan."""
        found = self._lookup([product_id])
        if product_id not in found:
            raise ProductNotFoundError([product_id])
        return found[product_id]

    def get_products(self, product_ids: list[str]) -> list[dict[str, Any]]:
        """S7 — batch lookup, input-order preserving, ALL missing ids listed
        before any result is returned (ref json_storage.py:353-361). Shares
        the S6 read (input order is restored from the request list, so the
        scan order never matters)."""
        if not product_ids:
            return []
        found = self._lookup(product_ids)
        missing = [i for i in product_ids if i not in found]
        if missing:
            raise ProductNotFoundError(missing)
        return [found[i] for i in product_ids]

    # ------------------------------------------------------------------ updates

    def update_product(self, product_id: str, update: dict[str, Any]) -> dict[str, Any]:
        """D3 — shallow merge ``{**existing, **update}``.

        Nested dicts/lists are wholly replaced (verified ref behavior,
        test_json_storage.py:163-166); only updated_at is bumped.
        """
        if not product_id:
            raise ValueError("product_id is required")
        self.update_products([{**update, "id": product_id}])
        return self.get_product(product_id)

    def update_products(self, updates: list[dict[str, Any]]) -> int:
        """D4 — batch shallow merge, all-or-nothing.

        Validation order matches the reference (json_storage.py:460-471):
        every payload must carry an id, then every id must exist, before any
        write. One shared timestamp per batch (ref :478). Exact
        ``{**existing, **update}`` semantics, explicit None included, over
        the touched buckets only; a provided ``metadata`` replaces the
        stored struct wholesale. Repeated ids fold in payload order
        (``{**existing, **u1, **u2}``); the return value still counts
        payloads. A value its stored column cannot hold (2.5 into an
        integer column) raises ValueError and nothing is written; the
        column is never widened. The driver tier (_driver_rewrite) runs
        first; _spark_rewrite handles what it declines.
        """
        if not updates:
            return 0
        no_id = [i for i, u in enumerate(updates) if not u.get("id")]
        if no_id:
            raise ValueError(f"updates at positions {no_id} lack an id")
        folded: dict[str, dict[str, Any]] = {}
        for u in updates:
            folded[u["id"]] = {**folded.get(u["id"], {}), **u}
        if not self._driver_rewrite(list(folded), folded):
            self._spark_rewrite(list(folded), folded)
        # an update can EDIT text the content-dedup index has band keys
        # for, at an unchanged row count — invisible to any count probe.
        # Flag the index; the next checked save rebuilds it once
        # (code-review r04: silent false negatives after update). Stores
        # that never enabled reject_near_dups have no index directory —
        # skip the construction entirely rather than retag empty tables
        # (ADVICE r04: avoids per-update overhead + spurious empty dirs)
        import os

        if os.path.isdir(os.path.join(self.catalog.warehouse, "content_index")):
            self._content_index().mark_stale()
        return len(updates)

    def _spark_rewrite(
        self, ids: list[str], updates: dict[str, dict[str, Any]] | None
    ) -> None:
        """The Spark tier of _driver_rewrite, step for step: a bucket-pruned
        read, the all-or-nothing existence check, then the ids' rows dropped
        (``updates`` None) or merged, and one replace_buckets.

        The merge joins each folded payload as one JSON string, next to
        ``_provided`` (its keys, so an explicit None still overwrites), and
        types it with ``from_json`` against the stored columns: a new key
        takes the type createDataFrame infers; a provided ``metadata``
        parses as the stored struct and replaces it wholesale (ref
        json_storage.py:410-413; new metadata keys arrive via a save).
        ``metadata.updated_at`` is stamped on every merged row. A value its
        column cannot hold raises ValueError naming the id and key before
        anything is written, and FAILFAST keeps the merge itself from ever
        storing it as null or widening the column."""
        df = self._df_for_ids(ids)
        found = set() if df is None else {
            r["id"] for r in df.where(F.col("id").isin(ids)).select("id").collect()
        }
        missing = sorted(set(ids) - found)
        if missing:
            raise ProductNotFoundError(missing)
        if updates is None:
            out = df.where(~F.col("id").isin(ids))
        else:
            out = self._spark_merge(df, updates)
        self.table.replace_buckets(
            out, self._buckets_of(ids), counters=self.table.current_snapshot().counters
        )

    def _spark_merge(self, df: DataFrame, updates: dict[str, dict[str, Any]]) -> DataFrame:
        """``{**existing, **update}`` over the touched buckets' rows ``df``
        (see _spark_rewrite)."""
        payloads = {
            i: {k: v for k, v in u.items() if k != "id" and not k.startswith("_")}
            for i, u in updates.items()
        }
        stored = {f.name: f.dataType for f in df.schema}
        held = stored["metadata"].fieldNames()
        for i, u in payloads.items():
            meta = u.get("metadata", {})
            if not isinstance(meta, dict):
                raise ValueError(f"update for id {i!r}: metadata must be a dict")
            bad = sorted(set(meta) - set(held))
            if bad:
                raise ValueError(
                    f"update for id {i!r}: metadata keys {bad} are not "
                    f"representable in this store's typed metadata struct "
                    f"({sorted(held)}); introduce new metadata keys via a save"
                )
        types = {k: stored[k] for u in payloads.values() for k in u if k in stored}
        # a new key set to None in every payload stays absent
        new = sorted(
            {k for u in payloads.values() for k, v in u.items() if k not in stored and v is not None}
        )
        if new:
            inferred = self._rows_df([{k: u.get(k) for k in new} for u in payloads.values()])
            types.update((f.name, f.dataType) for f in inferred.schema)
        schema = T.StructType([T.StructField(k, t) for k, t in sorted(types.items())])
        # one row per provided (id, key): a row that does not parse names
        # the culprit, where FAILFAST in the merge would only abort the job
        probe = [
            (i, k, _payload_json({k: v}))
            for i, u in payloads.items()
            for k, v in u.items()
            if v is not None and k in types
        ]
        if probe:
            flagged = T.StructType(schema.fields + [T.StructField("_bad", T.StringType())])
            parsed = F.from_json("j", flagged, {"columnNameOfCorruptRecord": "_bad"})
            bad = (
                self.spark.createDataFrame(probe, "id string, key string, j string")
                .where(parsed.getField("_bad").isNotNull())
                .orderBy("id", "key")
                .limit(1)
                .collect()
            )
            if bad:
                i, k = bad[0]["id"], bad[0]["key"]
                raise ValueError(
                    f"update for id {i!r}: {k}={payloads[i][k]!r} does not fit the "
                    f"stored column type {types[k].simpleString()}"
                )
        upd = self.spark.createDataFrame(
            [(i, _payload_json(u), sorted(u)) for i, u in payloads.items()],
            "id string, _payload string, _provided array<string>",
        ).select(
            "id",
            "_provided",
            F.from_json("_payload", schema, {"mode": "FAILFAST"}).alias("_u"),
        )
        cols: list[Column] = []
        for c in df.columns + new:
            col = F.col(c) if c in stored else F.lit(None)
            if c in types:
                col = F.when(F.array_contains("_provided", c), F.col("_u").getField(c)).otherwise(col)
            if c == "metadata":
                col = F.when(
                    F.col("_provided").isNotNull(),
                    col.withField("updated_at", F.current_timestamp()),
                ).otherwise(F.col(c))
            cols.append(col.alias(c))
        return df.join(F.broadcast(upd), "id", "left").select(cols)

    # ------------------------------------------------------------------ deletes

    def delete_product(self, product_id: str) -> bool:
        """D5 — delete one; ProductNotFoundError if absent; returns True."""
        self.delete_products([product_id])
        return True

    def delete_products(self, product_ids: list[str]) -> int:
        """D6 — batch delete, all-or-nothing precheck (verified rollback,
        ref test_json_storage_batch.py:288-301); empty ⇒ 0."""
        if not product_ids:
            return 0
        if not self._driver_rewrite(product_ids, None):
            self._spark_rewrite(product_ids, None)
        return len(product_ids)

    # ------------------------------------------------------------------ query

    def list_products_df(
        self,
        filters: dict[str, Any] | None = None,
        page: int = 1,
        page_size: int = 100,
        sort_by: str | None = None,
        sort_order: str = "asc",
    ) -> tuple[DataFrame, int]:
        """The Q1-Q6 pipeline as a DataFrame (page_df, total) — the Spark
        tier of list_products, which runs it for whatever _driver_list
        declines.

        filter → sort → offset/limit. Late materialization (ref
        json_storage.py:674-678) is Catalyst column pruning — nothing to
        hand-roll. Missing sort values sort as "" (ref :657-658); ties break
        by save order (_seq), replicating the reference's stable Timsort over
        dict-insertion order.
        """
        df = self._df()
        if df is None:
            empty = self.spark.createDataFrame([], T.StructType([T.StructField("id", T.StringType())]))
            return empty, 0
        if filters:
            preds: list[Column] = []
            for field, value in filters.items():
                col = self._resolve(df, field) if self._filterable(field) else None
                if col is None:
                    # unknown/unindexed field ⇒ match nothing (verified ref
                    # behavior, SURVEY §5.2) — in both modes, a filter on a
                    # nonexistent column cannot match.
                    preds.append(F.lit(False))
                elif field in df.columns and not _type_compatible(
                    df.schema[field].dataType, value
                ):
                    preds.append(F.lit(False))  # type mismatch ⇒ no match
                else:
                    preds.append(col == _lit_value(value))
            df = df.where(reduce(lambda a, b: a & b, preds))
        total = df.count()

        order = []
        if sort_by:
            key = self._resolve(df, sort_by)
            key = F.coalesce(key.cast("string"), F.lit("")) if key is not None else F.lit("")
            order.append(key.desc() if sort_order.lower() == "desc" else key.asc())
        order.append(F.col("_seq").asc())  # stable tiebreak = save order
        df = df.orderBy(*order)

        start = (page - 1) * page_size
        page_df = df.offset(start).limit(page_size).drop("_seq")
        return page_df, total

    def _list_where(self, schema, filters: dict[str, Any] | None, sort_by: str | None):
        """(reason, conditions) for the driver-tier list scan: the filters
        under the whole table's unified schema as (column, value) pairs a
        row must all equal — None when no row can match — row for row
        what list_products_df keeps; or why this tier cannot say
        (``filter`` / ``sort`` / ``schema``)."""
        import pyarrow as pa

        if "_seq" not in schema.names:
            return "schema", None
        if sort_by and ("." in sort_by or (
            sort_by in schema.names and not pa.types.is_string(schema.field(sort_by).type)
        )):
            # struct/map paths, and Spark's cast-to-string of a number,
            # which formats floats unlike Python
            return "sort", None
        conds: list | None = []
        for field, v in (filters or {}).items():
            if (
                "." in field
                or isinstance(v, list)
                or (isinstance(v, float) and math.isnan(v))  # Spark: NaN = NaN
                or (isinstance(v, int) and not -(2**63) <= v < 2**63)
            ):
                return "filter", None
            if field not in schema.names or not self._filterable(field):
                conds = None  # unknown, or unindexed in compat mode
                continue
            typ = schema.field(field).type
            if pa.types.is_string(typ):
                ok = isinstance(v, str)
            elif pa.types.is_integer(typ) or pa.types.is_floating(typ):
                ok = isinstance(v, (int, float)) and not isinstance(v, bool)
            elif pa.types.is_boolean(typ):
                ok = isinstance(v, bool)
            else:
                return "filter", None
            # a type mismatch matches nothing, as _type_compatible rules on
            # Spark; so does None (col = NULL is never true)
            if not ok:
                conds = None
            elif conds is not None:
                conds.append((field, v))
        return None, conds

    def _driver_list(
        self,
        filters: dict[str, Any] | None,
        page: int,
        page_size: int,
        sort_by: str | None,
        sort_order: str,
    ) -> ListResult | None:
        """list_products without a Spark job; None when declined. One
        whole-table _arrow_scan; the filters become one compute mask over
        their columns, whose true rows give ``total``; only the sort key
        and ``_seq`` are taken for those rows, and they sort as
        list_products_df sorts them (``coalesce(key, "")``, then ``_seq``
        ascending — a column absent from the table sorts by ``_seq``
        alone). Every other column is taken, and hydrated, for the page's
        rows alone."""
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        reason, data, _ = self._arrow_scan(
            None, where=lambda schema: self._list_where(schema, filters, sort_by)
        )
        if reason not in (None, "empty"):
            return self._spark_tier(reason)
        self.tiers["driver"] += 1
        rows = np.empty(0, np.int64)
        if data is not None:
            tbl, conds = data
            if conds == []:
                rows = np.arange(tbl.num_rows)
            elif conds:
                mask = reduce(pc.and_, [pc.equal(tbl.column(f), v) for f, v in conds])
                rows = np.flatnonzero(pc.fill_null(mask, False).to_numpy())
        total = len(rows)
        start = (page - 1) * page_size
        products: list[dict[str, Any]] = []
        if start < total:
            cols = {"_seq": tbl.column("_seq").take(rows)}
            order = [("_seq", "ascending")]
            if sort_by and sort_by in tbl.schema.names:
                cols["key"] = pc.coalesce(tbl.column(sort_by).take(rows), pa.scalar(""))
                desc = sort_order.lower() == "desc"
                order.insert(0, ("key", "descending" if desc else "ascending"))
            idx = pc.sort_indices(pa.table(cols), sort_keys=order)
            page_rows = rows[idx[start : start + page_size].to_numpy()]
            products = self._rows(tbl.take(page_rows))
        return ListResult(products, total, page, page_size, max(1, math.ceil(total / page_size)))

    def list_products(
        self,
        filters: dict[str, Any] | None = None,
        page: int = 1,
        page_size: int = 100,
        sort_by: str | None = None,
        sort_order: str = "asc",
    ) -> ListResult:
        """Q7 — full envelope, contract-identical to the reference
        (base.py:189-196): total_pages = ceil(total/page_size), minimum 1.
        The driver tier (_driver_list) runs first; list_products_df is the
        Spark tier for what it declines. ``page`` and ``page_size`` below
        1 raise ValueError on both."""
        if page < 1 or page_size < 1:
            raise ValueError(f"page and page_size must be >= 1 (got {page}, {page_size})")
        res = self._driver_list(filters, page, page_size, sort_by, sort_order)
        if res is not None:
            return res
        page_df, total = self.list_products_df(filters, page, page_size, sort_by, sort_order)
        products = [r.asDict(recursive=True) for r in page_df.collect()]
        return ListResult(products, total, page, page_size, max(1, math.ceil(total / page_size)))

"""Persisted dedup index — ingest-time band-key tables (VERDICT r03 #1).

The incremental dedup tiers' steady-state claim is "per-batch cost ∝ batch
bytes": the stored corpus's MinHash band keys (text) and coordinate-sign
band keys (embeddings) are computed ONCE, when each batch is ingested, and
live in snapshot-committed tables. A later batch computes only ITS OWN
keys and equi-joins the stored table — the corpus text/vectors are touched
only for the rows that MATCH (candidates ∝ true duplicates). Round 3
simulated this shape by recomputing the stored side inside the query
(operators/dedup.py r03:380,657); this module makes it a real store
artifact, so the executed plan contains a parquet FileScan of the band
table and exactly one signature pass — the batch's
(test_incremental_reads_persisted_index asserts both).

Scale layout: band keys are near-uniform by construction (a MinHash band
key hashes 4 signature mins; a sign band key packs 16 coordinate signs),
so the tables partition evenly on `key`. At 10⁹ docs the minhash table is
32 rows/doc — on a cluster it is bucketed by `key` (Iceberg
``bucket(n, key)``), turning every batch's equi-join into a pruned,
co-located probe. Verification never scans the corpus: matched ids
semi-join the corpus table (bucket/pushdown pruning reads only those
rows) and re-derive grams for exactly the candidates.

Reference tie-in: this generalizes the reference's D1 duplicate semantics
(DuplicateProductError on an *id* collision, crawl4ai_llm
storage/json_storage.py:195-197) from id-equality to content near-equality
— ProductStore.save_products_df(reject_near_dups=...) uses the same index
to flag or reject arriving near-duplicate content at save time.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from crawl4ai_llm_spark.catalog import Catalog, ResidentIndex, Snapshot, Table, has_files

JACCARD_TAU = 0.5
COSINE_DUP_TAU = 0.9

# Signature-scheme versions, stamped into every ingest commit and REQUIRED
# to match at query time: band keys computed under a different gram-hash /
# banding scheme silently match NOTHING (found live in round 4 when the
# gram hash moved from JVM murmur3 to pd.util.hash_array — the persisted
# index returned 0 candidates with no error). Bump on any change to the
# signature arithmetic.
# 3 = multiply-shift permutations over the raw 64-bit gram hash (the
# affine-mod-P matrix was the signature pass's hot spot — integer
# division; dedup.SIG_SHIFT). 2 = pd.util.hash_array grams mod P +
# affine-mod-P permutations, 32×4 MinHash bands.
SIG_SCHEME = 3
# 2 = NaN coordinates set the sign bit (dedup.sign_band_keys_fast matches
# the oracle's `v >= 0 is NULL → bit set` rule since r05, dedup.py NaN
# parity fix); 1 = NaN treated as negative. Indexes persisted under
# scheme 1 yield different keys for NaN coordinates — exactly the
# silent-zero-candidates failure this guard exists to catch (ADVICE r05).
SIGN_SCHEME = 2  # 4×16-bit coordinate-sign bands, NaN→sign-bit-set

# Broadcast gate for a BATCH's band rows going into the stored-band join
# (match_documents n_batch path): rows, not pairs — a band row is one
# (doc_id, band, key) tuple, 32 per doc. MEASURED, not asserted (r07,
# tools/bench_probe_crossover.py, VERDICT r06 #5): forced-path sweep
# against a 400k-doc index shows the transports tied through 3.2M band
# rows and the shuffle join decisively ahead from 8M (42.3 s vs 19.1 s;
# the probe's loss is structural — the np.unique + broadcast of an
# 8M+-key array is driver-serial). 4M is the midpoint, biased low
# because the probe legs carried more kernel-time noise and still lost.
BROADCAST_BAND_ROW_BUDGET = 4_000_000

# Driver-tier match gates (match_documents_driver, r07): the steady-state
# crawl-wave match runs THREE map-only jobs + driver numpy instead of the
# distributed verify's ~6-stage chain — but only while everything the
# driver touches stays metadata-sized. PER_PART_PROBE_CAP bounds what one
# probe partition may return (cap × partitions ≈ worst-case collect,
# ~200 MB at 32 parts); DRIVER_MATCH_DOC_BUDGET bounds how many matched
# docs' TEXTS are pulled for verification. Either trip ⇒ the caller falls
# back to the distributed path, which has no such bounds.
PER_PART_PROBE_CAP = 200_000
DRIVER_MATCH_DOC_BUDGET = 20_000


def _require_scheme(
    table: Table, key: str, want: int, what: str, snap: Snapshot | None = None
) -> None:
    """Raise unless ``table``'s snapshot (``snap`` when the caller has
    read it, else the current one) was built under scheme ``want``."""
    snap = table.current_snapshot() if snap is None else snap
    got = int(snap.counters.get(key, 1)) if snap else want
    if got != want:
        raise ValueError(
            f"dedup index {what} was built under {key}={got}, engine runs "
            f"{key}={want} — re-ingest the index (band keys from different "
            "schemes silently match nothing)"
        )


def _packed_band_keys(table):
    """``(key << 6) + band`` of a band table's rows: one int64 per
    (band, key), the packing every match path probes with."""
    import numpy as np

    key = table.column("key").to_numpy().astype(np.int64)
    return (key << np.int64(6)) + table.column("band").to_numpy()


def _band_member_filter(stored_bd: DataFrame, bc) -> DataFrame:
    """Rows of the stored band table whose packed key ∈ broadcast array —
    EXACT membership (numpy searchsorted), evaluated as a boolean pandas
    UDF so ONLY the packed int64 crosses the Arrow boundary (8 B/row both
    ways). The previous mapInPandas probe shipped whole rows — doc_id
    strings dominated: measured 6.1 s vs 1.2 s at 26M stored rows, and
    the UDF form stays near-flat in corpus size (0.6 → 1.2 s for 4×).
    The filter itself stays map-side over the parquet scan; matched rows
    (∝ true dups × bands) are all that leave the JVM afterwards."""
    import numpy as np
    import pandas as pd

    def member(ck):  # pd.Series -> pd.Series (no annotations: the module's
        # `from __future__ import annotations` stringifies them and breaks
        # pandas_udf signature inspection — same trap as dedup.py)
        a = bc.value
        v = ck.to_numpy()
        if a.size == 0:
            return pd.Series(np.zeros(len(v), dtype=bool))
        i = np.searchsorted(a, v)
        i[i == a.size] = 0
        return pd.Series(a[i] == v)

    from pyspark.sql.functions import pandas_udf

    # JVM-side packing: key*64 + band, matching the driver's (key << 6) + band
    return stored_bd.where(
        pandas_udf(member, "boolean")(F.col("key").cast("long") * 64 + F.col("band"))
    )


def match_pairs(new_ids, ck_all, matched_ck, matched_ids, texts, tau: float) -> list | None:
    """Candidate pairing and exact Jaccard verification on the driver —
    shared by ``DedupIndex.match_documents_driver`` and the crawl's driver
    tier. ``new_ids``: the batch's doc ids, one per row of ``ck_all``, its
    (n, N_BANDS) packed band keys ``(key << 6) + band``; ``matched_ck`` /
    ``matched_ids``: the stored band rows whose packed key is among them.
    ``texts(need_new, need_orig)`` returns the ``({id: text}, {id: text})``
    of the candidate docs. Returns the (new_id, orig_id, jaccard) rows at
    Jaccard ≥ tau, or None when the candidates' texts exceed
    DRIVER_MATCH_DOC_BUDGET or ``texts`` declines."""
    from decimal import ROUND_HALF_UP, Decimal

    import numpy as np
    import pandas as pd

    from crawl4ai_llm_spark.operators.dedup import N_BANDS, word_grams

    # matched stored rows → batch docs sharing the band key, via
    # searchsorted over the batch's sorted packed keys
    flat_ck = np.asarray(ck_all, dtype=np.int64).ravel()
    order = np.argsort(flat_ck, kind="stable")
    sck = flat_ck[order]
    mck = np.asarray(matched_ck, dtype=np.int64)
    lo = np.searchsorted(sck, mck, "left")
    hi = np.searchsorted(sck, mck, "right")
    reps = hi - lo
    if reps.sum() == 0:
        return []
    slots = np.concatenate([np.arange(l, h) for l, h in zip(lo, hi) if h > l])
    pair_new = np.asarray(new_ids)[order[slots] // N_BANDS]
    pair_orig = np.repeat(np.asarray(matched_ids), reps)
    cand = pd.DataFrame({"new_id": pair_new, "orig_id": pair_orig}).drop_duplicates()
    need_new = sorted(set(cand["new_id"]))
    need_orig = sorted(set(cand["orig_id"]))
    if len(need_new) + len(need_orig) > DRIVER_MATCH_DOC_BUDGET:
        return None  # text pull too fat for the driver: go distributed
    got = texts(need_new, need_orig)
    if got is None:
        return None
    gn = {d: word_grams(t) for d, t in got[0].items()}
    go = {d: word_grams(t) for d, t in got[1].items()}
    out = []
    for new_id, orig_id in zip(cand["new_id"], cand["orig_id"]):
        a, b = gn.get(new_id), go.get(orig_id)
        if a is None or b is None:
            continue
        inter = len(a & b)
        union = len(a) + len(b) - inter
        if union == 0 or inter / union < tau:
            continue
        # F.round parity: BigDecimal-style HALF_UP on the shortest
        # decimal representation of the double
        j = float(
            Decimal(repr(inter / union)).quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP)
        )
        out.append(
            {
                # preserve the id column's native type (urls are
                # strings, the store tier uses longs)
                "new_id": new_id.item() if hasattr(new_id, "item") else new_id,
                "orig_id": orig_id.item() if hasattr(orig_id, "item") else orig_id,
                "jaccard": j,
            }
        )
    return out


def _widen(df: DataFrame, spark: SparkSession) -> DataFrame:
    """Gate-repartition a narrow scan so the Arrow UDF chain parallelizes
    (same policy as dedup.doc_shingles: skip the shuffle when the source
    already has enough splits — always true at 100 TB; splits estimated
    from file sizes, not file count)."""
    from crawl4ai_llm_spark.operators.dedup import estimated_scan_partitions

    par = spark.sparkContext.defaultParallelism
    if estimated_scan_partitions(df) >= par:
        return df
    return df.repartition(par)


class DedupIndex:
    """Band-key tables under one warehouse directory.

    ``minhash_bands``: (doc_id long, band int, key int) — 32 rows per
    ingested document. ``sign_bands``: (vec_id long, band int, key long) —
    4 rows per ingested embedding. Both append-only; counters track the
    cumulative ingested row count so consumers can detect a stale index.
    """

    def __init__(self, spark: SparkSession, warehouse: str):
        self.spark = spark
        self.catalog = Catalog(spark, warehouse)
        self.minhash_bands: Table = self.catalog.table("minhash_bands")
        self.sign_bands: Table = self.catalog.table("sign_bands")
        # minhash_bands' rows by packed key, doc ids dictionary-decoded
        # (32 rows a doc): match_band_keys' stored side
        self.band_index = ResidentIndex(
            ["doc_id", "band", "key"], ["doc_id"], _packed_band_keys, read_dictionary=["doc_id"]
        )

    # ------------------------------------------------------------------ ingest

    def prepare_batch(self, batch: DataFrame, widen: bool = True) -> DataFrame:
        """(doc_id, text, sig) fused frame for a batch — THE signature
        pass (one text→sig Arrow pass; gram strings never cross the
        Arrow boundary, dedup.with_text_sig). A caller that both matches
        and ingests the same batch (the crawl wave loop, StreamingDedup,
        the store's content tier) should compute this ONCE, cache it, and
        pass it to both ``match_documents(prepared=...)`` and
        ``ingest_documents(prepared=...)`` — the signature pass is the
        single largest per-batch cost, and the legacy paths ran it twice
        per wave. Caller owns the cache lifetime."""
        from crawl4ai_llm_spark.operators import dedup

        return dedup.with_text_sig(_widen(batch, self.spark))

    def ingest_documents(
        self,
        docs: DataFrame,
        counters: dict[str, int] | None = None,
        prepared: DataFrame | None = None,
        n_docs: int | None = None,
    ) -> int:
        """Append the batch's MinHash band keys (one shingle+signature Arrow
        pass over the batch — never the stored corpus). ``docs``:
        (doc_id, text). ``prepared``: this batch's cached
        ``prepare_batch`` frame — reuses its signatures instead of
        recomputing them. ``n_docs``: the batch's row count when the
        caller already knows it (the crawl wave does); None counts
        ``docs`` with one Spark job. Returns the number of documents
        indexed — the step the ``n_docs`` counter advances by."""
        from crawl4ai_llm_spark.operators import dedup

        if prepared is not None:
            bd = dedup.band_rows(prepared.select("doc_id", "sig"))
        else:
            bd = dedup.band_rows(
                dedup.with_text_sig(_widen(docs, self.spark)).select("doc_id", "sig")
            )
        n = docs.count() if n_docs is None else n_docs
        self.minhash_bands.append(bd, counters=self.ingest_counters(n, counters))
        return n

    def ingest_counters(
        self, n_docs: int, counters: dict[str, int] | None = None, snap: Snapshot | None = None
    ) -> dict:
        """Counters of a ``minhash_bands`` commit that indexes ``n_docs``
        more documents: the caller's tags, the advanced ``n_docs`` and the
        signature scheme (checked against the stored one first). ``snap``:
        the table's snapshot when the caller has read it."""
        snap = self.minhash_bands.current_snapshot() if snap is None else snap
        # a truncated (rolled-back-to-empty) table has a snapshot but no
        # files and no scheme counter — it is a fresh table, not a mismatch
        if has_files(snap):
            _require_scheme(self.minhash_bands, "sig_scheme", SIG_SCHEME, "minhash_bands", snap)
        prev = int(snap.counters.get("n_docs", 0)) if snap else 0
        return {**(counters or {}), "n_docs": prev + n_docs, "sig_scheme": SIG_SCHEME}

    def ingest_embeddings(
        self, vecs: DataFrame, counters: dict[str, int] | None = None
    ) -> int:
        """Append the batch's sign band keys. ``vecs``: (vec_id, v) with v
        an array<double>."""
        from crawl4ai_llm_spark.operators import dedup

        bk = dedup.sign_band_rows(_widen(vecs, self.spark), "vec_id")
        snap = self.sign_bands.current_snapshot()
        if snap is not None and snap.files:
            _require_scheme(self.sign_bands, "sign_scheme", SIGN_SCHEME, "sign_bands")
        prev = int(snap.counters.get("n_vecs", 0)) if snap else 0
        n = vecs.count()
        self.sign_bands.append(
            bk,
            counters={**(counters or {}), "n_vecs": prev + n, "sign_scheme": SIGN_SCHEME},
        )
        return n

    # ------------------------------------------------------------------ sync

    def _sync(
        self,
        table_name: str,
        count_key: str,
        n: int,
        scheme_key: str,
        scheme: int,
        ingest,
        tags: dict | None,
    ) -> bool:
        """ONE staleness policy for every consumer (code-review r04: the
        check-drop-reingest sequence was triplicated with hand-copied
        counter names). The stored table is fresh iff the row-count
        counter, the scheme version, every caller tag, and the absence of
        a pending ``stale`` flag all hold; anything else drops and
        re-ingests. Returns True if it re-ingested."""
        tbl = getattr(self, table_name)
        snap = tbl.current_snapshot()
        fresh = (
            snap is not None
            and int(snap.counters.get(count_key, -1)) == n
            and int(snap.counters.get(scheme_key, 1)) == scheme
            and not snap.counters.get("stale")
            and all(snap.counters.get(k) == v for k, v in (tags or {}).items())
        )
        if fresh:
            return False
        self.catalog.drop(table_name)
        setattr(self, table_name, self.catalog.table(table_name))
        ingest(counters=dict(tags or {}))
        return True

    def sync_documents(self, docs: DataFrame, tags: dict | None = None) -> bool:
        """Ensure minhash_bands matches ``docs`` (+ caller tags, e.g. a
        source fingerprint or indexed-column id); re-ingest on any
        mismatch. One docs.count() as the cheap probe."""
        n = docs.count()
        return self._sync(
            "minhash_bands", "n_docs", n, "sig_scheme", SIG_SCHEME,
            lambda counters: self.ingest_documents(docs, counters=counters), tags,
        )

    def sync_embeddings(self, vecs: DataFrame, tags: dict | None = None) -> bool:
        n = vecs.count()
        return self._sync(
            "sign_bands", "n_vecs", n, "sign_scheme", SIGN_SCHEME,
            lambda counters: self.ingest_embeddings(vecs, counters=counters), tags,
        )

    def mark_stale(self) -> None:
        """Flag the index for rebuild at the next sync — the UPDATE path's
        hook: a mutation that edits already-indexed content leaves the
        band keys wrong at an UNCHANGED row count, which no count probe
        can see (code-review r04: update_products + reject_near_dups)."""
        for tbl in (self.minhash_bands, self.sign_bands):
            snap = tbl.current_snapshot()
            if snap is not None:
                tbl.retag({**snap.counters, "stale": 1})

    # ------------------------------------------------------------------ maintenance

    def compact(
        self, target_partitions: int | None = None, expire_keep_last: int | None = None
    ) -> None:
        """Rewrite each band table's live file set to a bounded count — the
        maintenance pass a per-batch ingest loop (StreamingDedup, the
        store's content tier) runs every K batches: append-per-batch
        otherwise accumulates one commit's files per batch and every
        matcher pays the footer scans. ``expire_keep_last`` additionally
        garbage-collects superseded manifests/files (catalog
        ``expire_snapshots`` — only 1 actually frees space, trading
        rollback depth; same tradeoff as FrontierEngine.compact_tables)."""
        k = target_partitions or self.spark.sparkContext.defaultParallelism
        for tbl in (self.minhash_bands, self.sign_bands):
            if tbl.is_empty():
                continue
            snap = tbl.current_snapshot()
            tbl.compact(k, counters=snap.counters if snap else None)
            if expire_keep_last:
                tbl.expire_snapshots(expire_keep_last)

    # ------------------------------------------------------------------ match

    def match_documents(
        self,
        batch: DataFrame,
        stored_docs: DataFrame,
        tau: float = JACCARD_TAU,
        caches: list | None = None,
        prepared: DataFrame | None = None,
        n_batch: int | None = None,
    ) -> DataFrame:
        """(new_id, orig_id, jaccard): every batch doc paired with each
        stored doc it duplicates at exact full-gram Jaccard ≥ tau.

        Plan shape (the 10⁹-doc story): ONE shingle+signature pass over the
        batch; the stored side is a parquet scan of the band-key table
        equi-joined on (band, key); verification re-derives grams only for
        the stored docs that MATCHED (semi-join into ``stored_docs``, which
        at scale is bucket/pushdown-pruned — candidates ∝ true dups).
        ``batch``/``stored_docs``: (doc_id, text); any other column of
        ``stored_docs`` is ignored.

        RECALL is the banding curve, not 1.0: a true pair at Jaccard J is
        missed by every band with probability (1 − J⁴)³² — ~1.5e-15 at
        J ≥ 0.9 but ~13% right AT the default tau 0.5 (precision stays
        exact: every candidate is verified on full gram sets). Callers
        needing tight recall at low tau should widen the banding
        (dedup.N_BANDS/ROWS_PER_BAND) — documented rather than hidden,
        per code-review r04.

        ``caches``: per-call cached DataFrames are appended here so a
        LOOPING caller (StreamingDedup, the store's content tier) can
        unpersist them — each batch's plans are unique, so CacheManager
        dedupe never reclaims them (r04 leak finding). When None, the
        caches are session-lifetime (the bench-query sharing mode).

        ``prepared``: the batch's cached ``prepare_batch`` frame — skips
        this call's own signature pass (the caller shares it with
        ``ingest_documents``; caller owns the cache). ``n_batch``: the
        batch's doc count when the caller already knows it — gates a
        BROADCAST of the batch band rows into the stored-table join, so
        the STORED band table is never shuffled (map-side join against
        the parquet scan). At 10⁹ stored docs the shuffle of the stored
        side is the match's scale ceiling; the batch side is the small
        one by design (batch ≪ corpus)."""
        from crawl4ai_llm_spark.operators import dedup

        stored_bd = self.minhash_bands.read()
        if stored_bd is None:
            raise ValueError("dedup index is empty — ingest_documents first")
        _require_scheme(self.minhash_bands, "sig_scheme", SIG_SCHEME, "minhash_bands")
        if prepared is not None:
            fused = prepared
        else:
            # fused cache: text feeds verification re-gram, sig feeds banding
            fused = self.prepare_batch(batch).cache()
            if caches is not None:
                caches.append(fused)
        batch_bd = dedup.band_rows(fused.select("doc_id", "sig"))
        # Small-batch path (the batch ≪ corpus steady state): a numpy
        # sorted-array membership probe over the STORED band scan, instead
        # of a BroadcastHashJoin of the batch band rows. The hash-relation
        # build of ~2.6M entries is single-threaded on the driver and cost
        # ~2.3 s per wave — and Spark REBUILDS it for every action that
        # re-executes the plan — where collecting the batch's packed
        # (key, band) int64s and searchsorted-probing the stored scan
        # map-side costs ~1 s once (same transport pattern as the
        # frontier's Bloom broadcast tier, but exact). The stored table is
        # still never shuffled; the probe is a map over its parquet scan.
        # Above the gate (batch no longer ≪ corpus) the plain shuffle
        # join is the right plan.
        if n_batch is not None and n_batch * dedup.N_BANDS <= BROADCAST_BAND_ROW_BUDGET:
            import numpy as np

            ck_expr = (F.col("key").cast("long") * 64 + F.col("band")).alias("ck")
            arr = np.unique(batch_bd.select(ck_expr).toPandas()["ck"].to_numpy())
            bc = self.spark.sparkContext.broadcast(arr)
            if caches is not None:
                # Broadcast.unpersist shares the DataFrame spelling, so the
                # looping caller's cleanup loop releases it wave-by-wave
                caches.append(bc)

            # matched_bd ∝ colliding band rows (∝ true dups × bands): no
            # broadcast hint, so the plan picks the join from its size
            # estimate (autoBroadcastJoinThreshold, then AQE's runtime
            # switch) rather than broadcasting a dup-heavy batch's matches
            matched_bd = _band_member_filter(stored_bd, bc)
            cand = (
                matched_bd.alias("o")
                .join(
                    batch_bd.alias("n"),
                    (F.col("n.band") == F.col("o.band"))
                    & (F.col("n.key") == F.col("o.key")),
                )
                .select(
                    F.col("n.doc_id").alias("new_id"), F.col("o.doc_id").alias("orig_id")
                )
                .distinct()
            )
        else:
            # a shuffle join by hint: the planner sizes the stored side by
            # its compressed parquet bytes, and broadcasting the decoded
            # table it picked from that estimate ran the driver out of
            # memory on a fat wave (fatwave scale 2, wave 4)
            cand = (
                batch_bd.alias("n")
                .join(
                    stored_bd.hint("merge").alias("o"),
                    (F.col("n.band") == F.col("o.band"))
                    & (F.col("n.key") == F.col("o.key")),
                )
                .select(
                    F.col("n.doc_id").alias("new_id"), F.col("o.doc_id").alias("orig_id")
                )
                .distinct()
            )
        cand = dedup._broadcast_if_small(cand, caches=caches)
        # verification: only MATCHED docs — on BOTH sides — are re-shingled
        # (grams are derived per candidate, ∝ true dups; the batch's grams
        # are not kept in the prepared cache at all — shipping every gram
        # string across the Arrow boundary cost more than the whole
        # signature arithmetic)
        matched = cand.select(F.col("orig_id").alias("doc_id")).distinct()
        orig = stored_docs.join(matched, "doc_id", "left_semi")
        if "wave" in stored_docs.columns:
            # a recrawled doc_id scores only its max-wave row (the latest
            # fetch; a null wave ranks lowest), as the driver tier's
            # readers rule; a tie inside one wave keeps the row the scan
            # returns last, like their keep-last scans
            rank = F.struct(F.coalesce(F.col("wave"), F.lit(-1)), F.col("_pos"))
            orig = (
                orig.withColumn("_pos", F.monotonically_increasing_id())
                .groupBy("doc_id")
                .agg(F.max_by("text", rank).alias("text"))
            )
        orig_sh = _widen(orig, self.spark).select(
            "doc_id", dedup.word_ngrams_fast(F.col("text")).alias("grams")
        )
        new_matched = cand.select(F.col("new_id").alias("doc_id")).distinct()
        ga = fused.join(new_matched, "doc_id", "left_semi").select(
            F.col("doc_id").alias("new_id"),
            dedup.word_ngrams_fast(F.col("text")).alias("grams_a"),
        )
        gb = orig_sh.select(F.col("doc_id").alias("orig_id"), F.col("grams").alias("grams_b"))
        j = F.col("inter").cast("double") / (
            F.col("na") + F.col("nb") - F.col("inter")
        ).cast("double")
        scored = (
            cand.join(ga, "new_id")
            .join(gb, "orig_id")
            .select(
                "new_id",
                "orig_id",
                F.size(F.array_intersect("grams_a", "grams_b")).alias("inter"),
                F.size("grams_a").alias("na"),
                F.size("grams_b").alias("nb"),
            )
        )
        return scored.where(j >= tau).select(
            "new_id", "orig_id", F.round(j, 6).alias("jaccard")
        )

    def match_documents_driver(
        self,
        stored_docs: DataFrame,
        tau: float = JACCARD_TAU,
        *,
        prepared: DataFrame,
        n_batch: int,
        caches: list | None = None,
        orig_texts=None,
        timings: dict | None = None,
    ) -> list[dict] | None:
        """Driver-tier steady-state match (VERDICT r06 #1): same result
        rows as ``match_documents`` — (new_id, orig_id, jaccard) at exact
        full-gram Jaccard ≥ tau — but the per-wave FIXED cost is three
        map-only Spark jobs instead of the distributed verify's ~6-stage
        chain (probe → matched-broadcast join → distinct → two semi-joins
        → gram UDFs → score), whose per-stage scheduling constant — not
        bytes — dominated the wave wall at sandbox wave sizes:

          job 1  doc-major collect of the batch's 32 band keys through
                 the shared ``prepared`` cache (materializes it for the
                 commit-phase ingest, exactly like the old packed-key
                 collect);
          job 2  numpy searchsorted membership probe over the STORED band
                 scan (identical probe as match_documents' small-batch
                 path), matched rows COLLECTED instead of re-joined —
                 per-partition capped, sentinel row on overflow;
          job 3  matched NEW docs' texts filtered out of the prepared
                 cache — skipped entirely when nothing collided. Matched
                 ORIG texts come from ``orig_texts(ids) -> {id: text}``
                 when the caller provides one (the crawl engine passes a
                 pyarrow pushdown read of the docs table: 0.07 s where
                 the equivalent Spark filter-collect job measured 1.1 s),
                 else a pushdown-pruned Spark scan of ``stored_docs``.

        Candidate pairing and Jaccard verification (``match_pairs``,
        shared with the crawl's driver tier) run in numpy/Python on the
        driver over ∝-true-dup-sized data, with ``dedup.word_grams``, the
        gram rule of word_ngrams_fast. Returns None when a gate trips
        (batch too fat, probe overflow, too many matched docs) — the
        caller falls back to the distributed path. The stored corpus is
        still never shuffled and never scanned beyond matched ids.

        Probe transport note: a JVM BroadcastHashJoin against the packed
        ck relation was A/B'd for job 2 and LOST to the Python probe
        (2.6-2.9 s vs 1.7-1.9 s at 6.4M stored rows) — the hash-relation
        build plus codegen row handling costs more than Arrow transit +
        numpy searchsorted, even with a single consuming action."""
        import time

        import numpy as np

        from crawl4ai_llm_spark.operators import dedup

        def mark(name, t0=[time.time()]):
            if timings is not None:
                now = time.time()
                timings[name] = round(now - t0[0], 3)
                t0[0] = now

        if n_batch is None or n_batch * dedup.N_BANDS > BROADCAST_BAND_ROW_BUDGET:
            return None
        stored_bd = self.minhash_bands.read()
        if stored_bd is None:
            raise ValueError("dedup index is empty — ingest_documents first")
        _require_scheme(self.minhash_bands, "sig_scheme", SIG_SCHEME, "minhash_bands")

        # job 1: batch band keys, doc-major (one array row per doc beats
        # 32 exploded rows with the doc_id string repeated 32×)
        bk_pd = prepared.select(
            "doc_id", F.array(*dedup.band_key_cols()).alias("keys")
        ).toPandas()
        mark("job1_keys_collect")
        new_ids = bk_pd["doc_id"].to_numpy()
        if len(bk_pd) == 0:
            return []
        K = np.array(bk_pd["keys"].tolist(), dtype=np.int64)  # (n, 32)
        ck_all = (K << np.int64(6)) + np.arange(dedup.N_BANDS, dtype=np.int64)[None, :]
        arr = np.unique(ck_all.ravel())
        bc = self.spark.sparkContext.broadcast(arr)
        if caches is not None:
            caches.append(bc)

        # job 2: map-only exact-membership filter of the stored band scan
        # (_band_member_filter: only the packed int64 crosses Arrow), then
        # a cap mapInPandas over the already-tiny matched stream — the
        # per-partition sentinel (band = -1) keeps the collect bounded.
        cap = PER_PART_PROBE_CAP

        def cap_rows(it):
            taken = 0
            for p in it:
                if len(p) == 0:
                    continue
                if taken + len(p) > cap:
                    head = p.iloc[: max(0, cap - taken)].copy()
                    sentinel = p.iloc[:1].copy()
                    sentinel["band"] = -1
                    yield head
                    yield sentinel
                    return
                taken += len(p)
                yield p

        matched_pd = (
            _band_member_filter(stored_bd, bc)
            .mapInPandas(cap_rows, stored_bd.schema)
            .toPandas()
        )
        mark("job2_probe_collect")
        if (matched_pd["band"] < 0).any():
            return None  # probe overflow: dup-heavy wave, go distributed
        if len(matched_pd) == 0:
            return []

        def texts(need_new, need_orig):
            # job 3: matched NEW texts out of the prepared cache; ORIG
            # texts via the caller's driver-side reader when given (pyarrow
            # pushdown over the stored table's parquet — no Spark job),
            # else one pushdown-pruned Spark scan. On a table with multiple
            # rows per doc_id (recrawl before rebuild_content_index) the
            # max-wave row wins when ``stored_docs`` carries ``wave`` — the
            # latest fetch, as the caller's reader rules.
            mark("pairing")
            new_pd = (
                prepared.where(F.col("doc_id").isin(need_new))
                .select("doc_id", "text")
                .toPandas()
            )
            new_text = dict(zip(new_pd["doc_id"], new_pd["text"]))
            mark("job3_new_texts")
            orig_text = orig_texts(need_orig) if orig_texts is not None else None
            if orig_text is None:
                # the caller's driver-side reader declined (corpus
                # footprint above its byte budget, VERDICT r07 #2) or none
                # was given: ONE distributed pushdown-pruned scan, bounded
                # by matched ids
                cols = ["doc_id", "text"] + (["wave"] if "wave" in stored_docs.columns else [])
                orig_pd = (
                    stored_docs.where(F.col("doc_id").isin(need_orig)).select(*cols).toPandas()
                )
                if "wave" in cols:  # the scan is unordered: sort, keep the last
                    orig_pd = orig_pd.sort_values("wave", na_position="first").drop_duplicates(
                        "doc_id", keep="last"
                    )
                orig_text = dict(zip(orig_pd["doc_id"], orig_pd["text"]))
            mark("orig_texts")
            return new_text, orig_text

        mck = (matched_pd["key"].to_numpy().astype(np.int64) << np.int64(6)) + matched_pd[
            "band"
        ].to_numpy()
        return match_pairs(
            new_ids, ck_all, mck, matched_pd["doc_id"].to_numpy(), texts, tau
        )

    def match_band_keys(
        self, new_ids: list, keys, texts, tau: float = JACCARD_TAU, snap: Snapshot | None = None
    ) -> list | None:
        """``match_documents_driver`` for a batch whose band keys the
        caller computed itself (``dedup.band_keys``; ``keys`` is (n,
        N_BANDS), one row per id in ``new_ids``), with no Spark job: the
        stored side is ``band_index``, synced to ``snap`` (the band
        table's snapshot when the caller has read it, else the current
        one) — one searchsorted probe of its sorted packed keys gives the
        matching band rows in file order, then row order, the order a
        scan of the files returns them — then ``match_pairs`` with the
        caller's ``texts``. Syncing decodes only the band files the index
        does not cover yet. Returns None when a gate trips, like
        ``match_documents_driver``."""
        import numpy as np

        from crawl4ai_llm_spark.operators import dedup

        snap = self.minhash_bands.current_snapshot() if snap is None else snap
        if not has_files(snap):
            raise ValueError("dedup index is empty — ingest_documents first")
        _require_scheme(self.minhash_bands, "sig_scheme", SIG_SCHEME, "minhash_bands", snap)
        ck_all = (np.asarray(keys, dtype=np.int64) << np.int64(6)) + np.arange(
            dedup.N_BANDS, dtype=np.int64
        )
        self.band_index.sync(snap.files)
        rows, m_ck = self.band_index.find(ck_all.ravel())
        if not len(rows):
            return []
        return match_pairs(
            np.asarray(new_ids, dtype=object), ck_all, m_ck,
            np.asarray(self.band_index.take(rows, "doc_id"), dtype=object), texts, tau,
        )

    def match_embeddings(
        self,
        batch: DataFrame,
        stored_vecs: DataFrame,
        tau: float = COSINE_DUP_TAU,
        caches: list | None = None,
    ) -> DataFrame:
        """(new_id, orig_id, cos_sim): batch vectors vs the stored corpus at
        exact cosine ≥ tau. One sign-band Arrow pass over the batch; the
        stored side is the persisted band table; verification joins only
        matched stored vectors. ``batch``/``stored_vecs``: (vec_id, v).
        ``caches``: see match_documents."""
        from crawl4ai_llm_spark.functions import vectors as vx
        from crawl4ai_llm_spark.operators import dedup

        stored_bk = self.sign_bands.read()
        if stored_bk is None:
            raise ValueError("dedup index is empty — ingest_embeddings first")
        _require_scheme(self.sign_bands, "sign_scheme", SIGN_SCHEME, "sign_bands")
        batch = batch.cache()  # feeds band keys AND verification
        if caches is not None:
            caches.append(batch)
        batch_bk = dedup.sign_band_rows(batch, "vec_id")
        cand = (
            batch_bk.alias("n")
            .join(
                stored_bk.alias("o"),
                (F.col("n.band") == F.col("o.band")) & (F.col("n.key") == F.col("o.key")),
            )
            .select(F.col("n.vec_id").alias("new_id"), F.col("o.vec_id").alias("orig_id"))
            .distinct()
        )
        cand = dedup._broadcast_if_small(cand, caches=caches)
        va = batch.select(F.col("vec_id").alias("new_id"), F.col("v").alias("va"))
        vb = stored_vecs.select(F.col("vec_id").alias("orig_id"), F.col("v").alias("vb"))
        cos = vx.cosine(F.col("va"), F.col("vb"))
        return (
            cand.join(va, "new_id")
            .join(vb, "orig_id")
            .where(cos >= tau)
            .select("new_id", "orig_id", F.round(cos, 6).alias("cos_sim"))
        )

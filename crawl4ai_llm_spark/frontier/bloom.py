"""Partitioned Bloom filters for the URL-seen set (SURVEY.md §2.7 C3).

Spark's ``bloom_filter_agg`` is not registered as a SQL function in this
build, so the filter is built with numpy on the driver — one Bloom per hash
bucket of the seen table (``blooms_from_hashes``). The keys come from work
the crawl already does: the first build streams the seen table's
``url_hash`` column through pyarrow, and each wave's delta reuses the
hashes of the action that materializes its new links, so no Spark job
exists only to build a filter. Probing happens driver-broadcast: the
per-bucket bitmaps (n_buckets × m/8 bytes ≈ 1 MB at defaults) are
broadcast once per wave and probed by a vectorized pandas UDF whose body
is ``might_contain``. The crawl's driver tier runs no Bloom: its seen
index is exact and in memory, so a Bloom there would decide nothing.

Guarantee: NO false negatives — ``might_contain == False`` proves a URL is
new. Bloom-positive candidates still go through the exact anti-join, so the
final seen-set answer is always exact (the C4 verification tier).

At 10^10 URLs: n_buckets scales with the seen-table bucket count (the
blooms stay partition-local, built where the data lives — only the bitmaps
move), and the exact tier is an anti-join that touches only the
bloom-positive fraction (~p·new + true-dups) instead of every candidate.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

M_BITS = 1 << 17  # bits per bucket bloom (16 KiB)
K_HASHES = 5
MIX = 2_654_435_761


def _positions(hashes: np.ndarray) -> np.ndarray:
    """(n, K_HASHES) bit positions via double hashing of the 64-bit key."""
    h = hashes.astype(np.uint64)
    h1 = h % np.uint64(M_BITS)
    h2 = ((h * np.uint64(MIX)) % np.uint64(M_BITS)) | np.uint64(1)
    i = np.arange(K_HASHES, dtype=np.uint64)
    return (h1[:, None] + i[None, :] * h2[:, None]) % np.uint64(M_BITS)


def _buckets(hashes: np.ndarray, n_buckets: int) -> np.ndarray:
    """``pmod(url_hash, n_buckets)`` for an int64 array."""
    if n_buckets & (n_buckets - 1) == 0:
        # power-of-two: two's-complement AND equals pmod AND avoids the
        # signed-int64 modulo, which is ~100x slower than unsigned ops
        # on this platform's numpy
        return (hashes.view(np.uint64) & np.uint64(n_buckets - 1)).astype(np.int64)
    return np.mod(hashes, n_buckets)  # numpy's floor mod == F.pmod


def blooms_from_hashes(hashes, n_buckets: int = 64) -> dict[int, bytes]:
    """One packed Bloom bitmap per non-empty ``pmod(url_hash, n_buckets)``
    bucket of ``hashes`` (any int64 array-like). OR-ing the results of
    disjoint slices equals one call over their union, so callers can feed
    the keys batch by batch."""
    h = np.ascontiguousarray(hashes, dtype=np.int64)
    if h.size == 0:
        return {}
    b = _buckets(h, n_buckets)
    order = np.argsort(b, kind="stable")
    b, pos = b[order], _positions(h[order]).astype(np.int64)
    starts = np.flatnonzero(np.r_[True, b[1:] != b[:-1]])
    out = {}
    for s, e in zip(starts, np.r_[starts[1:], h.size]):
        bits = np.zeros(M_BITS, dtype=bool)
        bits[pos[s:e].ravel()] = True
        out[int(b[s])] = np.packbits(bits).tobytes()
    return out


def build_blooms(seen: DataFrame, n_buckets: int = 64) -> dict[int, bytes]:
    """Bitmaps of every ``url_hash`` in ``seen``: one Arrow collect of the
    hash column (8 bytes a row), then ``blooms_from_hashes``."""
    return blooms_from_hashes(
        seen.select("url_hash").toArrow().column(0).to_numpy(), n_buckets
    )


def probe_expr(df: DataFrame, blooms: dict[int, bytes], n_buckets: int = 64):
    """Adds ``maybe_seen``: False ⇒ provably new (skip the exact tier).

    Ships the PACKED bitmaps (m/8 bytes each) via broadcast — unpacking
    happens worker-side per batch, so per-task deserialization stays ~1 MB
    regardless of core count. Returns (df, broadcast) so the caller can
    destroy the broadcast once the wave is committed.
    """
    spark = df.sparkSession
    bc = spark.sparkContext.broadcast(blooms)

    @F.pandas_udf("boolean")
    def maybe_seen(url_hash: pd.Series) -> pd.Series:
        return pd.Series(might_contain(url_hash.to_numpy(), bc.value, n_buckets))

    return df.withColumn("maybe_seen", maybe_seen(F.col("url_hash"))), bc


def might_contain(hashes, blooms: dict[int, bytes], n_buckets: int = 64) -> np.ndarray:
    """Bloom verdict per int64 hash against per-bucket bitmaps: False ⇒
    provably never added. The body of ``probe_expr``'s UDF."""
    h = np.ascontiguousarray(hashes, dtype=np.int64)
    buckets = _buckets(h, n_buckets)
    out = np.zeros(len(h), dtype=bool)
    pos = _positions(h)
    for b in np.unique(buckets):
        bm = blooms.get(int(b))
        if bm is None:
            continue  # empty bucket: nothing seen there
        bits = np.unpackbits(np.frombuffer(bm, dtype=np.uint8))
        m = buckets == b
        out[m] = bits[pos[m].astype(np.int64)].all(axis=1)
    return out


# -- executor-resident tier (10^10-URL scale) ---------------------------------
#
# The broadcast tier above collects every bucket bitmap to the driver — fine
# at sandbox scale (64 buckets × 16 KiB = 1 MB) but at 10^10 URLs the seen
# set needs ~10 bits/key ⇒ ~12 GB of filters, which must never transit the
# driver or a broadcast. In this tier the filters live in a
# snapshot-committed table of (bucket, bloom) rows and both probe and update
# are COGROUPED Arrow jobs: each bucket's bitmap moves exactly once per wave,
# to the executor that already holds that bucket's URL rows. Probe output for
# buckets with no filter row is maybe_seen=False (nothing seen there), and
# buckets with no delta carry their prior bitmap through unchanged — so one
# cogroup emits the complete next filter table.


def probe_cogrouped(df: DataFrame, filters_df: DataFrame | None, n_buckets: int = 64) -> DataFrame:
    """``df`` (+ maybe_seen) via a bucket cogroup — no driver collect, no
    broadcast; every ``df`` column passes through."""
    from pyspark.sql.types import BooleanType, StructField, StructType

    if filters_df is None:
        return df.withColumn("maybe_seen", F.lit(False))
    out_schema = StructType(list(df.schema.fields) + [StructField("maybe_seen", BooleanType())])
    out_cols = [f.name for f in out_schema.fields]
    # BOTH cogroup keys must be the SAME type: Spark hash-partitions each
    # side with the key's own type (hash(int 5) != hash(long 5)) and does
    # NOT insert a cast, silently splitting groups across partitions. AQE's
    # small-data coalescing masks it (1 partition co-locates everything),
    # which is exactly how it slipped past small tests.
    withb = df.withColumn("_bucket", F.pmod(F.col("url_hash"), F.lit(n_buckets)))
    fb = filters_df.select(F.col("bucket").cast("long").alias("_bucket"), "bloom")

    def probe(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if len(left) == 0:  # filter-only group (bucket with no URLs this wave)
            return pd.DataFrame(columns=out_cols)
        h = left["url_hash"].to_numpy()
        if len(right) == 0:
            ms = np.zeros(len(h), dtype=bool)
        else:
            bits = np.unpackbits(np.frombuffer(right["bloom"].iloc[0], dtype=np.uint8))
            ms = bits[_positions(h)].all(axis=1)
        out = left.drop(columns=["_bucket"])
        out["maybe_seen"] = ms
        return out

    return (
        withb.groupBy("_bucket")
        .cogroup(fb.groupBy("_bucket"))
        .applyInPandas(probe, out_schema)
    )


def probe_update_cogrouped(
    df: DataFrame, filters_df: DataFrame | None, n_buckets: int = 64
) -> DataFrame:
    """ONE cogrouped pass emitting BOTH the probe result and the next
    filter table (ADVICE/VERDICT r03 #2: the split probe + update jobs
    each re-read the filter table — a full extra job per wave, which is
    what loses the latency-bound scaling regime).

    Output rows are discriminated by the ``bloom`` column: probe rows are
    ``df``'s columns + ``maybe_seen`` with bloom null; one row per bucket
    carries (bucket, bloom) — the bucket's bitmap OR-ed with ALL of this
    wave's probed keys — with the probe columns null. Updating from the
    probed keys rather than the post-verification new_links is EQUIVALENT
    for filter state: an already-seen key's bits are already set, so
    old | probed ≡ old | new_links (Bloom over-inclusion is one-sided and
    the exact anti-join verifies positives anyway). Buckets with no URLs
    this wave carry their prior bitmap through; buckets with URLs and no
    prior bitmap emit a fresh one.

    The caller caches the combined result ONCE, splits on
    ``bloom IS NULL``, and commits the filter rows — no second cogroup,
    no second filter-table scan."""
    from pyspark.sql.types import (
        BinaryType,
        BooleanType,
        IntegerType,
        StructField,
        StructType,
    )

    # every probe column must be NULLABLE: the one-per-bucket filter rows
    # null them out (non-nullable inputs like lit(0) attempt would throw
    # "Value at index is null" at Arrow conversion)
    out_schema = StructType(
        [StructField(f.name, f.dataType, True) for f in df.schema.fields]
        + [
            StructField("maybe_seen", BooleanType()),
            StructField("bucket", IntegerType()),
            StructField("bloom", BinaryType()),
        ]
    )
    out_cols = [f.name for f in out_schema.fields]
    withb = df.withColumn("_bucket", F.pmod(F.col("url_hash"), F.lit(n_buckets)))
    fb = (
        filters_df
        if filters_df is not None
        else df.sparkSession.createDataFrame([], "bucket int, bloom binary")
    )
    # cast: cogroup keys must type-match (see probe_cogrouped note)
    fb = fb.select(F.col("bucket").cast("long").alias("_bucket"), "bloom")

    def run(key, left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        bucket = int(key[0])
        if len(right):
            bits = np.unpackbits(np.frombuffer(right["bloom"].iloc[0], dtype=np.uint8)).astype(bool)
        else:
            bits = np.zeros(M_BITS, dtype=bool)
        if len(left) == 0:  # untouched bucket: carry prior bitmap through
            out = pd.DataFrame({c: [None] for c in out_cols})
            out["bucket"] = [bucket]
            out["bloom"] = [right["bloom"].iloc[0]]
            return out
        pos = _positions(left["url_hash"].to_numpy())
        ms = bits[pos].all(axis=1)  # probe BEFORE the OR (this wave's keys)
        bits[pos.ravel().astype(np.int64)] = True
        # explicit column-wise construction, not pd.concat with an all-NA
        # row: concat's dtype rules for all-NA entries are changing
        # (pandas FutureWarning) and an int column silently promoted to
        # float64 would corrupt 64-bit hashes
        n = len(left)
        data: dict = {}
        for c in left.columns:
            if c == "_bucket":
                continue
            vals = left[c].tolist()
            vals.append(None)
            data[c] = pd.Series(vals, dtype=object)
        data["maybe_seen"] = pd.Series(ms.tolist() + [None], dtype=object)
        data["bucket"] = pd.Series([None] * n + [bucket], dtype=object)
        data["bloom"] = pd.Series([None] * n + [np.packbits(bits).tobytes()], dtype=object)
        return pd.DataFrame(data)

    return (
        withb.groupBy("_bucket")
        .cogroup(fb.groupBy("_bucket"))
        .applyInPandas(run, out_schema)
    )


def update_filter_rows(
    delta: DataFrame, filters_df: DataFrame | None, n_buckets: int = 64
) -> DataFrame:
    """Next complete (bucket, bloom) table: delta keys OR-ed into their
    buckets' bitmaps, untouched buckets carried through — one cogrouped job,
    cost ∝ delta rows + touched bitmaps."""
    withb = delta.select(
        "url_hash", F.pmod(F.col("url_hash"), F.lit(n_buckets)).alias("_bucket")
    )
    fb = (filters_df if filters_df is not None else None)
    spark = delta.sparkSession
    if fb is None:
        fb = spark.createDataFrame([], "bucket int, bloom binary")
    # cast: cogroup keys must type-match (see probe_cogrouped note)
    fb = fb.select(F.col("bucket").cast("long").alias("_bucket"), "bloom")

    def upd(key, left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if len(left) == 0:  # untouched bucket: carry prior bitmap through
            return pd.DataFrame({"bucket": [int(key[0])], "bloom": [right["bloom"].iloc[0]]})
        if len(right):
            bits = np.unpackbits(np.frombuffer(right["bloom"].iloc[0], dtype=np.uint8)).astype(bool)
        else:
            bits = np.zeros(M_BITS, dtype=bool)
        pos = _positions(left["url_hash"].to_numpy())
        bits[pos.ravel().astype(np.int64)] = True
        return pd.DataFrame({"bucket": [int(key[0])], "bloom": [np.packbits(bits).tobytes()]})

    return (
        withb.groupBy("_bucket")
        .cogroup(fb.groupBy("_bucket"))
        .applyInPandas(upd, "bucket int, bloom binary")
    )

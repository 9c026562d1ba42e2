"""Deduplication operators for web-scale training-data pipelines.

Five tiers, each a ``queries()`` entry with a DuckDB oracle:

  exact          hash-groupBy on full text — one shuffle on the text hash
  ngram_jaccard  exact 3-gram Jaccard via shingle join — the semantic spec.
                 Candidate generation skips shingles whose document
                 frequency exceeds max(32, 5% of docs): an ultra-common
                 stop-phrase otherwise makes the posting-list self-join
                 Σ df² — quadratic at 100 TB on one hot gram
  minhash_lsh    MinHash signatures + banded LSH candidates + exact verify —
                 the 100 TB path (candidates ∝ true duplicates, not n²)
  simhash        64-bit SimHash (two 32-bit halves) + 4×16-bit band
                 blocking + Hamming verify — pigeonhole-EXACT for radius ≤ 3
                 (4 bands, ≤3 flipped bits ⇒ at least one band untouched ⇒
                 zero false negatives); 65,536 keys/band keeps buckets
                 sub-quadratic at 10⁹ docs
  embedding      cosine near-dup over embedding vectors: banded coordinate-
                 sign LSH (4 bands × 16 sign bits = 65,536 keys/band,
                 mirroring the simhash pigeonhole trick) + exact cosine
                 verify (provable recall 1 on the planted influx duplicates
                 — no cartesian in the plan)

Scale design: the shingle explode keys every shuffle by gram/band/bucket —
never by document — so hot documents don't skew partitions; ultra-frequent
shingles are the skew risk and MinHash banding is exactly the mitigation
(a band key is a 4-tuple of signature mins, near-uniform by construction).

All hashing is the engine-portable polynomial/mix arithmetic from
functions/text.py, so the oracles reproduce signatures bit-for-bit.
"""

from __future__ import annotations

import os
import random

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from crawl4ai_llm_spark.functions import text as tx
from crawl4ai_llm_spark.functions import vectors as vx
from crawl4ai_llm_spark.session import load_table

JACCARD_TAU = 0.5
SIMHASH_RADIUS = 3

# Shingle document-frequency cap for the exact tier's candidate generation:
# a gram in more than max(MIN, FRAC·n_docs) documents is too common to
# identify a duplicate pair and would cost df² join rows — candidates must
# share at least one gram UNDER the cap; verification still scores the FULL
# gram sets, so Jaccard values are unchanged. The MIN floor keeps tiny
# corpora (tests) cap-free.
SHINGLE_DF_CAP_FRAC = 0.05
SHINGLE_DF_CAP_MIN = 32

# Influx id offset for the re-crawled-corpus simulations: a high bit rather
# than an additive constant, so perturbed copies can NEVER collide with real
# ids at any scale factor (doc_id/vec_id are dense from 0; +100000 would
# alias at ≥100k rows and the shared oracle could not catch it).
INFLUX_OFFSET = 1 << 40

# Embedding dedup banding: 4 bands × 16 coordinate-sign bits (dims 0..63)
# = 65,536 keys per band — the same pigeonhole scheme as q_dedup_simhash.
# A pair with ≤3 coordinate sign flips shares ≥1 band key, and a POSITIVE
# per-dimension rescale (the influx perturbation) flips none.
SIGN_BANDS = 4
SIGN_BAND_BITS = 16

# Candidate-pair broadcast budget: candidate lists are ∝ true duplicates —
# usually tiny, so broadcasting them keeps the gram/vector tables
# shuffle-free. But "usually tiny" is not a plan guarantee: at 10⁹ docs a
# one-dup-per-doc corpus yields 10⁹ pairs, which must never transit the
# driver. The hint is therefore GATED on a measured count (the candidates
# are cached, so the count is reused by the verify join); above the budget
# the verify falls back to a shuffled equi-join.
BROADCAST_PAIR_BUDGET = 2_000_000


def _broadcast_if_small(cand: DataFrame, caches: list | None = None) -> DataFrame:
    cand = cand.cache()
    if caches is not None:  # looping callers unpersist (r04 leak finding)
        caches.append(cand)
    return F.broadcast(cand) if cand.count() <= BROADCAST_PAIR_BUDGET else cand


# MinHash config: 128 permutations = 32 bands × 4 rows. For a true pair at
# J ≥ 0.9 the miss probability is (1 - 0.9^4)^32 ≈ 1.5e-15 — and every
# surviving candidate is verified exactly, so precision is exact.
N_HASHES = 128
N_BANDS = 32
ROWS_PER_BAND = 4
# Multiply-shift permutations (Dietzfelbinger universal hashing):
# h_i(x) = (a_i·x + b_i) >> 33 over wrap-around uint64, a_i odd — values
# land in [0, 2^31). Rounds 2-5 used affine-mod-P (a·x+b mod 1e9+7), but
# the (128, n_grams) modulo matrix was THE signature-pass hot spot:
# integer division ran 1.4 s/partition where multiply+shift in-place runs
# 0.065 s (profiled on this box at 134k grams/partition; the pass fell
# from 23 s to ~4 s per 100k-doc wave). Scheme change ⇒ SIG_SCHEME 3.
SIG_SHIFT = 33
_rng = random.Random(42)
MINHASH_A = [_rng.randrange(1, 1 << 64) | 1 for _ in range(N_HASHES)]
MINHASH_B = [_rng.randrange(0, 1 << 64) for _ in range(N_HASHES)]


# --------------------------------------------------------------------------
# shared building blocks
# --------------------------------------------------------------------------


def word_grams(text, n: int = 3) -> set:
    """Distinct word n-grams of one text: tokens are its non-empty
    single-space splits, and a text with fewer than ``n`` tokens has none.
    The one Python gram rule: the gram UDFs, the signature kernel and the
    driver-side Jaccard verification all call it."""
    toks = [w for w in (text or "").split(" ") if w]
    return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}


_grams3_udf = None


def word_ngrams_fast(col, n: int = 3):
    """Distinct word n-grams (``word_grams``, sorted) via a vectorized
    pandas UDF: one Arrow batch of Python string ops, where a
    higher-order-function expression would be evaluated interpreted per
    element (measured ~10× slower for this shape)."""
    global _grams3_udf
    if _grams3_udf is None:
        import pandas as pd
        from pyspark.sql.functions import pandas_udf

        def build(texts):  # pd.Series -> pd.Series (annotations would be
            # stringified by `from __future__ import annotations` and break
            # pandas_udf signature inspection)
            return pd.Series([sorted(word_grams(t, n)) for t in texts])

        _grams3_udf = pandas_udf(build, "array<string>")
    return _grams3_udf(col)


_SIZE_SUFFIXES = {
    "b": 1, "k": 1 << 10, "kb": 1 << 10, "m": 1 << 20, "mb": 1 << 20,
    "g": 1 << 30, "gb": 1 << 30, "t": 1 << 40, "tb": 1 << 40,
}


def _parse_byte_size(raw: str, default: int = 134217728) -> int:
    """Spark size-config values accept JVM byte-suffix forms ('128m',
    '128MB', '1g') as well as plain integers; a bare int() on such a
    deployment value raised ValueError out of the scan estimate
    (ADVICE r04). Unparseable ⇒ the 128 MB Spark default."""
    s = str(raw).strip().lower()
    try:
        return int(s)
    except ValueError:
        pass
    for suf in sorted(_SIZE_SUFFIXES, key=len, reverse=True):
        if s.endswith(suf):
            try:
                return int(float(s[: -len(suf)]) * _SIZE_SUFFIXES[suf])
            except ValueError:
                break
    return default


def estimated_scan_partitions(df: DataFrame) -> int:
    """Driver-metadata estimate of the scan's split count: Spark splits
    parquet at spark.sql.files.maxPartitionBytes, so a FEW BIG files still
    yield many splits — counting files alone (the first r04 gate) would
    force a full-corpus shuffle on a one-file 10 GB table that already
    scans 80-wide (code-review r04 finding). Returns 0 for non-file
    sources (createDataFrame batches). No job, no RDD conversion (the
    r03 df.rdd.getNumPartitions() gate cost a measured 0.25 s)."""
    import os
    from urllib.parse import urlparse

    try:
        files = df.inputFiles()
    except Exception:
        return 0
    if not files:
        return 0
    raw = df.sparkSession.conf.get("spark.sql.files.maxPartitionBytes", "134217728")
    max_bytes = _parse_byte_size(raw)
    total = 0
    for f in files:
        p = urlparse(f).path or f
        try:
            total += os.path.getsize(p)
        except OSError:
            return len(files)  # non-local URI: fall back to the file count
    return max(len(files), total // max_bytes)


def doc_shingles(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, sf, "documents")
    # the documents table arrives as few parquet files — without an explicit
    # repartition the whole Arrow-UDF chain (shingling, signatures) runs in
    # as few tasks as there are input splits. Gated: repartition is a full
    # round-robin shuffle of the corpus, so it runs ONLY when the scan is
    # narrower than the executors (at 100 TB the scan has plenty of splits
    # and the shuffle is skipped, keeping the signature pass map-only).
    par = spark.sparkContext.defaultParallelism
    if estimated_scan_partitions(docs) < par:
        docs = docs.repartition(par)
    return docs.select("doc_id", word_ngrams_fast(F.col("text")).alias("grams"))


def _candidate_pairs_inverted(shingles: DataFrame) -> DataFrame:
    """Candidate pairs from the shingle inverted index, df-capped.

    Each gram co-locates its documents, so the only all-pairs work is within
    a gram's posting list — Σ df² rows, which one ultra-common stop-phrase
    turns quadratic at scale. Grams over the df cap are excluded from
    candidate GENERATION only (the banned set is tiny by pigeonhole —
    #banned ≤ total-occurrences/cap — so it broadcasts); verification still
    scores full gram sets. A pair sharing ONLY over-cap grams is missed by
    construction — at Jaccard ≥ 0.5 that needs a majority-stop-phrase
    document, the standard accepted tradeoff of df-capping.
    """
    n_docs = shingles.count()
    cap = max(SHINGLE_DF_CAP_MIN, int(SHINGLE_DF_CAP_FRAC * n_docs))
    e = shingles.select("doc_id", F.explode("grams").alias("gram"))
    banned = (
        e.groupBy("gram").agg(F.count("*").alias("df"))
        .where(F.col("df") > cap)
        .select("gram")
    )
    ec = e.join(F.broadcast(banned), "gram", "left_anti")
    a, b = ec.alias("a"), ec.alias("b")
    return (
        a.join(b, (F.col("a.gram") == F.col("b.gram")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def _jaccard_pairs(
    shingles: DataFrame,
    tau: float,
    candidates: DataFrame | None = None,
    candidates_prepared: bool = False,
) -> DataFrame:
    """Exact Jaccard ≥ tau over candidate pairs (full gram sets — the df cap
    affects only which pairs get scored, never the score).

    Without candidates: generate them from the df-capped inverted index (the
    spec tier). With candidates (the LSH path): the list is tiny
    (∝ true duplicates) — broadcast it so the gram table never shuffles.
    ``candidates_prepared``: the caller already gated+hinted the list
    (_broadcast_if_small) — re-wrapping re-cached and re-counted it, one
    whole extra Spark job per query (r08; per-job scheduling constant,
    not bytes).
    """
    lsh_path = candidates is not None
    if candidates is None:
        candidates = _candidate_pairs_inverted(shingles)
    cand = (
        candidates
        if candidates_prepared
        else (_broadcast_if_small(candidates) if lsh_path else candidates)
    )
    ga = shingles.select(F.col("doc_id").alias("doc_a"), F.col("grams").alias("grams_a"))
    gb = shingles.select(F.col("doc_id").alias("doc_b"), F.col("grams").alias("grams_b"))
    j = F.col("inter").cast("double") / (F.col("na") + F.col("nb") - F.col("inter")).cast("double")
    scored = (
        cand.join(ga, "doc_a")
        .join(gb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("grams_a", "grams_b")).alias("inter"),
            F.size("grams_a").alias("na"),
            F.size("grams_b").alias("nb"),
        )
    )
    return scored.where(j >= tau).select(
        "doc_a", "doc_b", F.round(j, 6).alias("jaccard")
    )


# --------------------------------------------------------------------------
# 1. exact dedup
# --------------------------------------------------------------------------


def q_dedup_exact(spark: SparkSession, sf: str) -> DataFrame:
    """Exact dedup by content: one hash-shuffle on the text (at 100 TB:
    groupBy a 128-bit content hash, never the text itself — same plan shape).
    The union-all simulates a re-crawled corpus where every doc arrives
    twice; keeper = min doc_id, matching the reference's first-writer-wins
    duplicate semantics (DuplicateProductError on second save, D1)."""
    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    influx = docs.unionAll(docs.select(F.col("doc_id") + INFLUX_OFFSET, "text"))
    return (
        influx.groupBy("text")
        .agg(F.min("doc_id").alias("keeper_id"), F.count("*").alias("n_copies"))
        .select(
            "keeper_id",
            "n_copies",
            # long, not int: DuckDB LENGTH() is BIGINT and the driver's
            # value-hash sees physical Arrow types
            F.length("text").cast("long").alias("text_len"),
        )
    )


# --------------------------------------------------------------------------
# 2. exact n-gram Jaccard
# --------------------------------------------------------------------------


def q_dedup_ngram_jaccard(spark: SparkSession, sf: str) -> DataFrame:
    # shingles feed both the inverted-index join and the size lookup —
    # cache the diamond instead of recomputing the HOF chain per branch
    return _jaccard_pairs(doc_shingles(spark, sf).cache(), JACCARD_TAU)


# --------------------------------------------------------------------------
# 3. MinHash + LSH banding
# --------------------------------------------------------------------------


_sig_udf = None
# test hook: when a Spark accumulator is assigned here BEFORE the UDF is
# (re)built (set _sig_udf = None to force a rebuild), the signature pass
# adds the number of documents it signs — letting
# test_incremental_reads_persisted_index prove the stored side of the
# incremental tier is READ from the persisted band table, never re-signed
_SIG_ROWS_COUNTER = None

# permutations per block of the signature kernel: 8 rows × n_grams uint64
# keeps the multiply-shift working set ~33 MB per task (vs 536 MB for all
# 128 at a 523k-gram batch), so the add/shift/reduceat passes hit cache
# instead of DRAM; same element-wise arithmetic, so signatures are
# bit-identical to the full-width form (128 = one block = that old form)
_SIG_BLOCK = int(os.environ.get("SPARK_GRAFT_SIG_BLOCK", "8"))
if not 1 <= _SIG_BLOCK <= 128:
    # 0 would make the block loop's range() step raise inside every
    # signing task; above 128 is one block anyway
    raise ValueError(f"SPARK_GRAFT_SIG_BLOCK must be in 1..128, got {_SIG_BLOCK}")


def _blocked_minhash(A, B, shift, gh, starts):
    """(128, n_grams) multiply-shift mins, computed _SIG_BLOCK rows at a
    time. A/B are (128, 1) uint64 columns; returns (128, n_docs) uint64."""
    import numpy as np

    k = A.shape[0]
    out = np.empty((k, len(starts)), dtype=np.uint64)
    for k0 in range(0, k, _SIG_BLOCK):
        m = A[k0 : k0 + _SIG_BLOCK] * gh[None, :]  # wraps mod 2^64
        m += B[k0 : k0 + _SIG_BLOCK]
        m >>= shift  # values in [0, 2^31)
        out[k0 : k0 + _SIG_BLOCK] = np.minimum.reduceat(m, starts, axis=1)
    return out


def with_minhash_sig(shingles: DataFrame) -> DataFrame:
    """(doc_id, grams) → (doc_id, grams, sig): 128 min-hash values per doc
    with ZERO shuffle — ONE Arrow pass per batch hashes every gram with
    pandas' vectorized 64-bit hash (C speed) and computes all 128
    multiply-shift permutation mins in numpy. Keeping grams alongside lets
    q_dedup_minhash_lsh cache ONE fused table feeding both the band join
    (sig) and verification (grams), instead of two stacked caches
    (VERDICT r03 #4 — measured ≥1 s off the cold path at sf0.1).

    Gram hashing history: round 2-4 hashed grams JVM-side
    (``transform(grams, x -> pmod(hash(x), P))``) — but Catalyst evaluates
    higher-order lambdas INTERPRETED per element, and at 160k docs
    (~75M grams) that one expression measured 145 s of a 165 s job
    (segment-profiled at local[16]). ``pd.util.hash_array`` (fixed
    hash_key ⇒ deterministic across workers/runs) does the same work
    inside the already-running Arrow pass at C speed. The signature needs
    determinism, not cross-engine parity: the oracle checks the VERIFIED
    output against exact Jaccard, never signatures.

    Replaces the round-1 explode + 128-column groupBy aggregation — same
    output shape, but the 128-wide partial-agg rows (33% of the r01
    bench) and the doc_id shuffle are gone entirely. At 100 TB this is a
    map stage: signature cost scales with corpus bytes, never with
    shuffle width.
    """
    global _sig_udf
    if _sig_udf is None:
        import numpy as np
        import pandas as pd
        from pyspark.sql.functions import pandas_udf

        # uint64, NOT int64: this platform's numpy runs signed-64 multiply
        # ~300x slower than unsigned (18s vs 0.1s for 33M elements —
        # measured; int32/uint64/float64 are all fine). Multiply-shift
        # WANTS the wrap-around: products mod 2^64 is the hash family.
        A = np.array(MINHASH_A, dtype=np.uint64)[:, None]
        B = np.array(MINHASH_B, dtype=np.uint64)[:, None]
        SHIFT = np.uint64(SIG_SHIFT)
        counter = _SIG_ROWS_COUNTER  # closure-captured (ships to workers)

        def sig(gs):  # pd.Series[list[str]] -> pd.Series[list[int]]
            if counter is not None:
                counter.add(len(gs))
            if len(gs) == 0:
                return pd.Series([], dtype=object)
            lens = gs.map(len).to_numpy()
            flat = np.concatenate([np.asarray(g, dtype=object) for g in gs])
            # vectorized 64-bit string hash (siphash, C speed); the fixed
            # hash_key makes it deterministic across workers and runs
            gh = pd.util.hash_array(flat, hash_key="crawl4ai_spark42", categorize=False)
            # multiply-shift, IN-PLACE: `(A*gh + B) % P` here cost
            # 1.4 s/partition in integer division + 0.9 s in temporaries
            # (three (128, n_grams) allocations); this form makes one
            # (_SIG_BLOCK, n_grams) temporary per block and zero divisions
            # — 0.065 s for the same input
            starts = np.zeros(len(lens), dtype=np.int64)
            np.cumsum(lens[:-1], out=starts[1:])
            mins = _blocked_minhash(A, B, SHIFT, gh, starts)  # (128, n_docs)
            return pd.Series(list(mins.T.astype(np.int64)))

        _sig_udf = pandas_udf(sig, "array<long>")

    return (
        shingles.where(F.size("grams") > 0)  # same domain as the old groupBy
        .select("doc_id", "grams", _sig_udf(F.col("grams")).alias("sig"))
    )


def minhash_signatures(shingles: DataFrame) -> DataFrame:
    """(doc_id, sig) — the signature-only view of with_minhash_sig."""
    return with_minhash_sig(shingles).select("doc_id", "sig")


_text_sig_udf = None


def text_signatures(texts) -> list:
    """MinHash signature of each text: ``word_grams`` 3-grams hashed with
    ``pd.util.hash_array`` (fixed hash_key, so deterministic across
    workers and runs), then the 128 multiply-shift mins. An int64 array of
    128 per text, or None for a text without grams. The kernel of
    ``with_text_sig``'s UDF; the crawl's driver tier calls it directly."""
    import numpy as np
    import pandas as pd

    if len(texts) == 0:
        return []
    gram_lists = [list(word_grams(t)) for t in texts]
    lens = np.array([len(g) for g in gram_lists], dtype=np.int64)
    if lens.sum() == 0:
        return [None] * len(gram_lists)
    flat = np.concatenate([np.asarray(g, dtype=object) for g in gram_lists])
    gh = pd.util.hash_array(flat, hash_key="crawl4ai_spark42", categorize=False)
    starts = np.zeros(len(lens), dtype=np.int64)
    np.cumsum(lens[:-1], out=starts[1:])
    # uint64, NOT int64: this platform's numpy runs signed-64 multiply
    # ~300x slower than unsigned; multiply-shift WANTS the wrap-around.
    # reduceat segments with len 0 would read the NEXT segment's min —
    # clamp and null them out after
    mins = _blocked_minhash(
        np.array(MINHASH_A, dtype=np.uint64)[:, None],
        np.array(MINHASH_B, dtype=np.uint64)[:, None],
        np.uint64(SIG_SHIFT),
        gh,
        np.clip(starts, 0, len(flat) - 1),
    )
    sigs = mins.T.astype(np.int64)
    return [None if n == 0 else s for n, s in zip(lens, sigs)]


def with_text_sig(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, text) → (doc_id, text, sig): tokenize + shingle + hash +
    multiply-shift minhash in ONE Arrow pass — the gram strings never
    cross the Arrow boundary. The two-UDF chain (word_ngrams_fast →
    with_minhash_sig) ships every gram string Python→JVM→Python and, in
    the prepare_batch path, caches them JVM-side: profiled at an 81k-doc
    crawl wave, that boundary+cache cost was the match's largest phase
    (4.5 s vs ~0.3 s of signature arithmetic). Signatures are
    BIT-IDENTICAL to the chain (same tokens, same distinct grams, same
    hash_key, same permutations) — same SIG_SCHEME. Docs with <3 tokens
    get a NULL sig (same dropped domain as with_minhash_sig's size>0
    filter); callers filter ``sig IS NOT NULL``. The kernel is
    ``text_signatures``. Verification re-derives grams per matched doc
    only (candidates ∝ true dups), via word_ngrams_fast."""
    global _text_sig_udf
    if _text_sig_udf is None:
        import pandas as pd
        from pyspark.sql.functions import pandas_udf

        counter = _SIG_ROWS_COUNTER  # closure-captured (ships to workers)

        def tsig(ts):  # pd.Series[str] -> pd.Series[list[int] | None]
            if counter is not None:
                counter.add(len(ts))
            return pd.Series(text_signatures(ts), dtype=object)

        # asNondeterministic is an OPTIMIZER FENCE, not a semantics claim:
        # without it Catalyst inlines the `sig IS NOT NULL` filter through
        # the projection and evaluates the UDF twice per row (measured:
        # the ingest accumulator counted every doc 2x)
        _text_sig_udf = pandas_udf(tsig, "array<long>").asNondeterministic()

    return docs.select(
        "doc_id", F.col(text_col).alias("text"), _text_sig_udf(F.col(text_col)).alias("sig")
    ).where(F.col("sig").isNotNull())


def band_key_cols(sig_col: str = "sig") -> list:
    """The 32 per-band key expressions (murmur3 of each band's 4 signature
    mins) — the ONE definition of a band key, shared by band_rows (the
    stored layout) and the driver-tier match's doc-major collect so the
    two can never disagree."""
    return [
        F.hash(
            *[
                F.element_at(sig_col, b * ROWS_PER_BAND + r + 1)
                for r in range(ROWS_PER_BAND)
            ]
        )
        for b in range(N_BANDS)
    ]


def _murmur3_long(values, seed):
    """Spark's ``Murmur3_x86_32.hashLong`` over uint32 arrays: the low
    then the high 32 bits of each int64 mixed into ``seed``, finalized
    with length 8."""
    import numpy as np

    c1, c2 = np.uint32(0xCC9E2D51), np.uint32(0x1B873593)

    def rotl(x, r):
        return (x << np.uint32(r)) | (x >> np.uint32(32 - r))

    u = values.astype(np.int64).view(np.uint64)
    h = seed
    for half in (u & np.uint64(0xFFFFFFFF), u >> np.uint64(32)):
        k = rotl(half.astype(np.uint32) * c1, 15) * c2
        h = rotl(h ^ k, 13) * np.uint32(5) + np.uint32(0xE6546B64)
    h = h ^ np.uint32(8)
    h ^= h >> np.uint32(16)
    h *= np.uint32(0x85EBCA6B)
    h ^= h >> np.uint32(13)
    h *= np.uint32(0xC2B2AE35)
    h ^= h >> np.uint32(16)
    return h


def band_keys(sigs):
    """(n, 128) int64 signatures → (n, N_BANDS) int32 band keys,
    bit-identical to ``band_key_cols``: ``F.hash`` of a band's 4 longs is
    a murmur3 ``hashLong`` chain seeded 42, each value's hash seeding the
    next."""
    import numpy as np

    sigs = np.asarray(sigs, dtype=np.int64).reshape(-1, N_BANDS, ROWS_PER_BAND)
    h = np.full(sigs.shape[:2], 42, dtype=np.uint32)
    for r in range(ROWS_PER_BAND):
        h = _murmur3_long(sigs[:, :, r], h)
    return h.view(np.int32)


def band_rows(sig: DataFrame) -> DataFrame:
    """(doc_id, band, key) rows — one per signature band (32 bands × 4
    rows hashed to a key). This is the layout the STORED side of
    incremental dedup keeps on disk: appended at ingest, equi-joined by
    every arriving batch."""
    keys = band_key_cols()
    bands = F.array(
        *[
            F.struct(F.lit(b).alias("band"), keys[b].alias("key"))
            for b in range(N_BANDS)
        ]
    )
    return sig.select("doc_id", F.explode(bands).alias("bk")).select(
        "doc_id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key")
    )


def lsh_candidates(sig: DataFrame) -> DataFrame:
    """Band the signature (32 bands × 4 rows), bucket-join within bands.
    Band keys are near-uniform, so the self-join per (band, key) bucket is
    skew-free — this is what replaces the n² pair scan at scale."""
    bd = band_rows(sig)
    a, b = bd.alias("a"), bd.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def q_dedup_minhash_lsh(spark: SparkSession, sf: str) -> DataFrame:
    """MinHash-LSH near-dup: candidates from banding, then exact Jaccard
    verification over FULL gram sets (no df-cap — that is the ngram tier's
    candidate-generation policy; on this corpus the outputs coincide, and
    each tier's oracle states its own semantics), built without the
    all-pairs shingle join. ONE fused cache (doc_id, text, sig) feeds the
    band self-join (sig, both sides) AND verification; grams are
    re-derived ONLY for docs that appear in a candidate pair (∝ true
    dups) — the earlier fused-grams cache shipped every gram string
    across the Arrow boundary and held them JVM-side, which profiling
    showed cost more than the whole signature arithmetic
    (with_text_sig docstring)."""
    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    par = spark.sparkContext.defaultParallelism
    if estimated_scan_partitions(docs) < par:
        docs = docs.repartition(par)
    fused = with_text_sig(docs).cache()
    cand = lsh_candidates(fused.select("doc_id", "sig"))
    cand = _broadcast_if_small(cand)
    ids = (
        cand.select(F.col("doc_a").alias("doc_id"))
        .union(cand.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    # ids ∝ matched docs (tiny) but its size ESTIMATE is opaque to Catalyst
    # (derived from a hinted cache) — without the hint the semi-join
    # shuffled the whole fused cache (r08)
    sh = fused.join(F.broadcast(ids), "doc_id", "left_semi").select(
        "doc_id", word_ngrams_fast(F.col("text")).alias("grams")
    )
    return _jaccard_pairs(sh, JACCARD_TAU, candidates=cand, candidates_prepared=True)


def _index_warehouse(sf: str, kind: str) -> str:
    """Repo-local warehouse for the per-sf persisted dedup index (the
    ingest-time artifact the incremental queries read)."""
    import os

    base = os.path.basename(os.path.normpath(sf)) or "default"
    root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    return os.path.join(root, "spark-warehouse", f"dedup_index_{kind}_{base}")


def _source_fingerprint(df: DataFrame) -> int:
    """Driver-metadata fingerprint of a file-backed table (paths + sizes +
    mtimes): detects a REGENERATED corpus whose row count happens to match
    the persisted index's (code-review r04 — a count probe alone would
    silently reuse band keys computed from the old texts)."""
    import os
    import zlib
    from urllib.parse import urlparse

    h = 0
    for f in sorted(df.inputFiles()):
        p = urlparse(f).path or f
        try:
            st = os.stat(p)
            h = zlib.crc32(f"{f}:{st.st_size}:{int(st.st_mtime)}".encode(), h)
        except OSError:
            h = zlib.crc32(f.encode(), h)
    return h


def ensure_text_index(spark: SparkSession, sf: str) -> "DedupIndex":
    """Ingest-time step of the incremental simulation: the corpus's MinHash
    band keys are committed ONCE to a persisted table, re-ingested when
    the corpus row count, source-file fingerprint, or signature scheme
    changes (DedupIndex.sync_documents — single staleness policy). This is
    the work a production pipeline does as each batch ARRIVES; the
    incremental query then only reads the table. Single-writer assumption:
    concurrent sessions racing the re-ingest of one sf directory are not
    defended (the driver runs queries sequentially)."""
    from crawl4ai_llm_spark.operators.dedup_store import DedupIndex

    idx = DedupIndex(spark, _index_warehouse(sf, "text"))
    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    # exposed so bench.py can stamp the artifact fresh-vs-reused (a scheme
    # bump silently forcing a re-ingest looked like a regression in r06)
    idx.last_sync_reingested = idx.sync_documents(
        docs, tags={"src_fp": _source_fingerprint(docs)}
    )
    return idx


def ensure_embedding_index(spark: SparkSession, sf: str) -> "DedupIndex":
    """Embedding analog of ensure_text_index (sign band keys)."""
    from crawl4ai_llm_spark.operators.dedup_store import DedupIndex

    idx = DedupIndex(spark, _index_warehouse(sf, "emb"))
    vecs = load_table(spark, sf, "embeddings").select(
        "vec_id", vx.as_double(F.col("embedding")).alias("v")
    )
    idx.last_sync_reingested = idx.sync_embeddings(
        vecs, tags={"src_fp": _source_fingerprint(vecs)}
    )
    return idx


def q_dedup_incremental(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental dedup: a NEW crawl batch answered against the STORED
    corpus — the shape a production ingest actually runs (corpus-at-once
    dedup is a backfill job; every arriving batch must be checked against
    10⁹ stored docs WITHOUT rescanning them).

    The stored side's MinHash band keys are computed at ingest
    (ensure_text_index → DedupIndex.ingest_documents) and PERSISTED; the
    query reads that table — the executed plan contains its parquet scan
    and exactly ONE signature pass, the batch's (r03 recomputed the stored
    side in-query; test_incremental_reads_persisted_index pins the new
    shape). The batch equi-joins the band table, so candidates ∝ true
    duplicates, and verification re-shingles only the stored docs that
    MATCHED (semi-join pushdown into the corpus scan). Simulation: the
    batch is the corpus re-crawled under INFLUX_OFFSET ids. Verification
    is exact full-set Jaccard, so the oracle is the plan-independent
    all-pairs batch×corpus SQL (true-pair J on this corpus is ≥ 0.9 —
    band miss-probability ≤ 1.5e-15, deterministic at gate scale).

    Output: (new_id, orig_id, jaccard) — every batch doc paired with each
    stored doc it duplicates (self-copies score 1.0)."""
    idx = ensure_text_index(spark, sf)
    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    batch = docs.select((F.col("doc_id") + INFLUX_OFFSET).alias("doc_id"), "text")
    return idx.match_documents(batch, docs, tau=JACCARD_TAU)


# --------------------------------------------------------------------------
# 4. SimHash
# --------------------------------------------------------------------------


_simhash_udf = None


def simhash64(toks_df: DataFrame, col: str = "toks") -> DataFrame:
    """64-bit SimHash per doc over distinct tokens, as TWO 32-bit halves
    (sim_lo, sim_hi) so every intermediate stays positive signed-64 in any
    engine (packing bit 63 would overflow BIGINT).

    ZERO shuffle: one polynomial charhash per token JVM-side (transform
    over the array, map-only), then one numpy pass per Arrow batch mixes
    both halves, unpacks 2×32 sign bits, sums them per doc
    (np.add.reduceat) and repacks — replacing round 1's token×32-bit-row
    explode through two doc_id shuffles. The round-1 version was also only
    32-bit with 4×8-bit bands = 256 bucket keys/band: at 10⁹ docs every
    bucket held ~4M docs and the within-bucket self-join went quadratic.
    64 bits with 4×16-bit bands gives 65,536 keys/band — 256× finer.
    """
    global _simhash_udf
    if _simhash_udf is None:
        import numpy as np
        import pandas as pd
        from pyspark.sql.functions import pandas_udf

        # uint64 throughout: signed-64 numpy multiply is pathologically slow
        # on this platform (see minhash_signatures note)
        J = np.arange(32, dtype=np.uint64)

        def pack(hs):  # pd.Series[list[int]] -> pd.DataFrame[sim_lo, sim_hi]
            if len(hs) == 0:
                return pd.DataFrame({"sim_lo": pd.Series([], dtype="int64"),
                                     "sim_hi": pd.Series([], dtype="int64")})
            lens = hs.map(len).to_numpy()
            flat = np.concatenate(
                [np.asarray(h, dtype=np.int64) for h in hs]
            ).astype(np.uint64)
            lo = (flat * np.uint64(tx.MIX32)) % np.uint64(tx.TWO32)
            hi = (flat * np.uint64(tx.MIX32B) + np.uint64(1)) % np.uint64(tx.TWO32)
            starts = np.zeros(len(lens), dtype=np.int64)
            np.cumsum(lens[:-1], out=starts[1:])
            out = {}
            for name, h in (("sim_lo", lo), ("sim_hi", hi)):
                # ±1 signs need a SIGNED small dtype (uint64 would wrap on -1)
                signs = (((h[:, None] >> J) & np.uint64(1)).astype(np.int32) * 2 - 1)
                sums = np.add.reduceat(signs, starts, axis=0)  # (n_docs, 32)
                out[name] = (
                    (sums > 0).astype(np.uint64) << J
                ).sum(axis=1).astype(np.int64)
            return pd.DataFrame(out)

        _simhash_udf = pandas_udf(pack, "sim_lo long, sim_hi long")

    hs = F.transform(F.col(col), lambda t: tx.char_fingerprint(t))
    return (
        # empty-token docs have no signature (np.add.reduceat misbehaves on
        # zero-length segments, and the round-1 explode dropped them too)
        toks_df.where(F.size(col) > 0)
        .select("doc_id", _simhash_udf(hs).alias("s"))
        .select("doc_id", F.col("s.sim_lo").alias("sim_lo"), F.col("s.sim_hi").alias("sim_hi"))
    )


_simhash_text_udf = None


def with_simhash(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, text) → (doc_id, sim_lo, sim_hi) in ONE Arrow pass —
    bit-identical to ``simhash64(array_distinct(tokens(text)))`` but
    without the per-character JVM expression fold: ``char_fingerprint``
    is a higher-order ``aggregate`` over ``split(token, '')``, evaluated
    interpreted per character per token (measured: the fingerprint pass
    alone was 15.8 s at 50k docs; this pass is ~1-2 s). Tokenization,
    per-doc distinct, the polynomial char hash (acc·131 + codepoint mod
    P — numpy int64, products < 2^63 so no overflow), both 32-bit mixes
    and the sign-sum fold all happen here; docs with zero tokens emit no
    row (matching the old ``where(size(toks) > 0)``)."""
    global _simhash_text_udf
    if _simhash_text_udf is None:
        import numpy as np
        import pandas as pd

        P = np.int64(tx.HASH_P)
        MULT = np.int64(tx.HASH_MULT)
        MIX = np.int64(tx.MIX32)
        MIXB = np.int64(tx.MIX32B)
        T32 = np.int64(tx.TWO32)
        BITS = [np.uint64(j) for j in range(64)]

        def _hash_vocab(uniq) -> tuple:
            """Vectorized polynomial char hash over the batch vocabulary:
            one numpy pass per char position (vocab × maxlen matrix of
            codepoints — np.char '<U' storage reads back exactly ord())."""
            arr = np.asarray(uniq, dtype="U")
            if arr.size == 0:
                z = np.zeros(0, dtype=np.int64)
                return z, z
            maxlen = max(arr.dtype.itemsize // 4, 1)
            codes = arr.view(np.uint32).reshape(len(arr), maxlen).astype(np.int64)
            acc = np.zeros(len(arr), dtype=np.int64)
            for k in range(maxlen):
                c = codes[:, k]
                live = c != 0  # '<U' pads with NUL, never a real token char
                if not live.any():
                    break
                acc[live] = (acc[live] * MULT + c[live]) % P
            return (acc * MIX) % T32, (acc * MIXB + 1) % T32

        def fps(it):
            import pandas as _pd

            for pdf in it:
                ids = pdf["doc_id"].to_numpy()
                tok_lists = []
                for t in pdf[text_col]:
                    # dict.fromkeys = order-preserving distinct (order is
                    # irrelevant to the sign sums; the SET is what matters)
                    tok_lists.append(
                        list(dict.fromkeys(w for w in (t or "").split(" ") if w))
                    )
                lens = np.array([len(tl) for tl in tok_lists], dtype=np.int64)
                keep = lens > 0
                if not keep.any():
                    yield _pd.DataFrame(
                        {"doc_id": _pd.Series([], dtype="int64"),
                         "sim_lo": _pd.Series([], dtype="int64"),
                         "sim_hi": _pd.Series([], dtype="int64")}
                    )
                    continue
                ids, lens = ids[keep], lens[keep]
                flat = _pd.Series(
                    [w for tl, k in zip(tok_lists, keep) if k for w in tl]
                )
                codes_idx, uniq = _pd.factorize(flat, sort=False)
                lo_u, hi_u = _hash_vocab(uniq)
                lo = lo_u[codes_idx].astype(np.uint64)
                hi = hi_u[codes_idx].astype(np.uint64)
                comb = lo | (hi << np.uint64(32))
                starts = np.zeros(len(lens), dtype=np.int64)
                np.cumsum(lens[:-1], out=starts[1:])
                # bit-plane loop: one (n,) temp per plane instead of an
                # (n,64) matrix — bounds per-task transient memory
                out = np.zeros(len(lens), dtype=np.uint64)
                for j in BITS:
                    ones = np.add.reduceat(
                        ((comb >> j) & np.uint64(1)).astype(np.int64), starts
                    )
                    # sign sum = 2·ones − len > 0  ⟺  bit set
                    out |= (2 * ones > lens).astype(np.uint64) << j
                yield _pd.DataFrame(
                    {
                        "doc_id": ids,
                        "sim_lo": (out & np.uint64(0xFFFFFFFF)).astype(np.int64),
                        "sim_hi": (out >> np.uint64(32)).astype(np.int64),
                    }
                )

        _simhash_text_udf = fps

    return docs.select("doc_id", F.col(text_col).alias("text")).mapInPandas(
        _simhash_text_udf, "doc_id long, sim_lo long, sim_hi long"
    )


def _simhash_band_cols(lo_col: str, hi_col: str) -> list:
    """The 4×16-bit band keys of a 64-bit fingerprint — ONE definition
    shared by both sides of the fingerprint-level band join."""
    halves = {0: lo_col, 1: lo_col, 2: hi_col, 3: hi_col}
    return [
        F.shiftright(F.col(halves[b]), 16 * (b % 2)).bitwiseAND(F.lit(0xFFFF))
        for b in range(4)
    ]


# Broadcast budget for the DISTINCT-fingerprint band table (4 rows/fp ×
# ~24 B). Duplicate-heavy corpora collapse hard (sf1.0: 50k docs → 32.4k
# fps) but a dup-free 10⁹-doc corpus would not — above the budget the band
# join falls back to the shuffled equi-join, same plan shape as before.
SIMHASH_FP_BROADCAST_BUDGET = 2_000_000


def q_dedup_simhash(spark: SparkSession, sf: str) -> DataFrame:
    """SimHash near-dup at Hamming radius ≤ 3 with 4×16-bit band blocking
    over the 64-bit fingerprint. Pigeonhole guarantee: ≤3 differing bits
    across 4 bands leaves ≥1 band identical, so band-bucket candidates have
    ZERO false negatives — the banded plan provably equals the all-pairs
    oracle.

    r08 shape: the band self-join runs over DISTINCT fingerprints, not
    docs. Near-dup clusters share identical simhashes (sf1.0: 50k docs →
    32,402 fps, hottest band bucket 12,438 docs but only 3,683 fps), so
    the quadratic bucket work drops 240M → 22.5M candidate probes, and
    the doc-level result — identical-fp pairs (hamming 0) plus the
    fp-edge × member-list expansion — is generated by broadcast joins,
    output ∝ result rows (38.2M at sf1.0), no 38M-row ``distinct``:
    an fp pair is emitted exactly once (at its FIRST matching band), and
    disjoint fp groups make doc pairs unique by construction. Measured
    153.5 s → see OPTIMIZATION_r08.md."""
    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    par = spark.sparkContext.defaultParallelism
    if estimated_scan_partitions(docs) < par:
        docs = docs.repartition(par)
    # cached: feeds the fp distinct, the identical-fp self-join (both
    # sides) and both expansion joins
    sim = with_simhash(docs).cache()
    g = sim.select("sim_lo", "sim_hi").distinct().cache()
    n_fps = g.count()

    keys_a = _simhash_band_cols("sim_lo", "sim_hi")
    bd = g.select(
        "sim_lo",
        "sim_hi",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(b).alias("band"), keys_a[b].alias("key"))
                    for b in range(4)
                ]
            )
        ).alias("bk"),
    ).select("sim_lo", "sim_hi", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
    bd_b = bd.select(
        F.col("sim_lo").alias("b_lo"),
        F.col("sim_hi").alias("b_hi"),
        F.col("band").alias("b_band"),
        F.col("key").alias("b_key"),
    )
    build = F.broadcast(bd_b) if n_fps <= SIMHASH_FP_BROADCAST_BUDGET else bd_b
    ham = (
        F.bit_count(F.col("sim_lo").bitwiseXOR(F.col("b_lo")))
        + F.bit_count(F.col("sim_hi").bitwiseXOR(F.col("b_hi")))
    )
    fp_lt = (F.col("sim_lo") < F.col("b_lo")) | (
        (F.col("sim_lo") == F.col("b_lo")) & (F.col("sim_hi") < F.col("b_hi"))
    )
    # emit an fp pair only at its FIRST matching band — replaces the
    # result-sized .distinct() with a cheap per-row predicate
    ka = _simhash_band_cols("sim_lo", "sim_hi")
    kb = _simhash_band_cols("b_lo", "b_hi")
    earlier_bands_differ = F.when(F.col("band") == 0, F.lit(True)).otherwise(
        F.when(F.col("band") == 1, ka[0] != kb[0]).otherwise(
            F.when(F.col("band") == 2, (ka[0] != kb[0]) & (ka[1] != kb[1])).otherwise(
                (ka[0] != kb[0]) & (ka[1] != kb[1]) & (ka[2] != kb[2])
            )
        )
    )
    edges = (
        bd.join(build, (F.col("band") == F.col("b_band")) & (F.col("key") == F.col("b_key")))
        .where(fp_lt & (ham <= SIMHASH_RADIUS) & earlier_bands_differ)
        .select(
            F.col("sim_lo").alias("a_lo"),
            F.col("sim_hi").alias("a_hi"),
            "b_lo",
            "b_hi",
            ham.cast("long").alias("hamming"),
        )
    )

    sim_small = n_fps <= SIMHASH_FP_BROADCAST_BUDGET  # n_docs ∝ n_fps gate
    sim_a = sim.select(
        F.col("sim_lo").alias("a_lo"), F.col("sim_hi").alias("a_hi"),
        F.col("doc_id").alias("id_a"),
    )
    sim_b = sim.select(
        F.col("sim_lo").alias("b_lo"), F.col("sim_hi").alias("b_hi"),
        F.col("doc_id").alias("id_b"),
    )
    if sim_small:
        sim_a, sim_b = F.broadcast(sim_a), F.broadcast(sim_b)
    cross = (
        edges.join(sim_a, ["a_lo", "a_hi"])
        .join(sim_b, ["b_lo", "b_hi"])
        .select(
            F.least("id_a", "id_b").alias("doc_a"),
            F.greatest("id_a", "id_b").alias("doc_b"),
            "hamming",
        )
    )
    s2 = sim.select(
        F.col("sim_lo").alias("w_lo"), F.col("sim_hi").alias("w_hi"),
        F.col("doc_id").alias("id_b"),
    )
    if sim_small:
        s2 = F.broadcast(s2)
    within = (
        sim.join(
            s2,
            (F.col("sim_lo") == F.col("w_lo"))
            & (F.col("sim_hi") == F.col("w_hi"))
            & (F.col("doc_id") < F.col("id_b")),
        )
        .select(
            F.col("doc_id").alias("doc_a"),
            F.col("id_b").alias("doc_b"),
            F.lit(0).cast("long").alias("hamming"),
        )
    )
    return within.unionByName(cross)


# --------------------------------------------------------------------------
# 5. embedding cosine near-dup
# --------------------------------------------------------------------------


COSINE_DUP_TAU = 0.9
_PERTURB = "1.0 + 0.04 * CAST((vec_id + j) % 5 AS DOUBLE) / 5.0"


def embedding_influx(spark: SparkSession, sf: str) -> DataFrame:
    """Re-crawled-corpus simulation (the embedding analog of
    q_dedup_exact's union trick): every vector arrives twice, the copy
    perturbed by a deterministic POSITIVE per-dimension scale factor
    (1.0–1.032). Positive scaling preserves every coordinate sign (scales
    ≥ 1, so not even the IEEE-underflow edge that
    test_sign_band_recall_property documents applies), so a
    true duplicate lands in the SAME sign-LSH band keys by construction —
    recall of the banded plan is provably 1, which is what lets the
    oracle stay the plan-independent all-pairs form. Copy ids carry the
    INFLUX_OFFSET high bit (never collides with a real vec_id)."""
    emb, perturbed = _embedding_base_and_batch(spark, sf)
    return emb.unionByName(perturbed)


def _embedding_base_and_batch(spark: SparkSession, sf: str) -> tuple[DataFrame, DataFrame]:
    """(stored corpus, arriving batch): the batch is every stored vector
    re-embedded under the deterministic positive perturbation, carrying
    INFLUX_OFFSET ids."""
    emb = load_table(spark, sf, "embeddings").select(
        "vec_id", vx.as_double(F.col("embedding")).alias("v")
    )
    perturbed = emb.select(
        (F.col("vec_id") + INFLUX_OFFSET).alias("vec_id"),
        F.expr(
            f"transform(v, (x, j) -> x * ({_PERTURB}))"
        ).alias("v"),
    )
    return emb, perturbed


def sign_band_keys(vec_col) -> "F.Column":
    """SIGN_BANDS × (band, key) structs: band b's key packs the signs of
    coordinates [16b, 16b+16) — integer-exact (no FP accumulation),
    deterministic in any engine. Dimensions beyond the vector length read
    as sign 0 (try_element_at past the end is null — plain element_at
    THROWS under Spark 4 ANSI semantics, found by
    test_sign_band_fast_matches_spec's short-vector case), so shorter
    vectors degrade deterministically."""

    def band_key(b: int):
        total = F.lit(0)
        for j in range(SIGN_BAND_BITS):
            total = total + F.when(
                F.try_element_at(vec_col, F.lit(b * SIGN_BAND_BITS + j + 1)) > 0,
                F.lit(1 << j),
            ).otherwise(F.lit(0))
        return total.cast("long")

    return F.array(
        *[
            F.struct(F.lit(b).alias("band"), band_key(b).alias("key"))
            for b in range(SIGN_BANDS)
        ]
    )


_sign_keys_udfs: dict = {}


def sign_band_keys_fast(
    vec_col, n_bands: int = SIGN_BANDS, band_bits: int = SIGN_BAND_BITS
) -> "F.Column":
    """Arrow-vectorized ``sign_band_keys``: all band keys per vector in ONE
    numpy pass per batch. The expression form above stays the semantic spec
    (and feeds the DuckDB oracles); this is the executed path — the
    expression's 64 chained CASEs evaluate interpreted per row and measured
    ~0.4 s of the sf0.1 embedding-dedup wall (VERDICT r03 #3). Equality
    with the spec is unit-tested (test_sign_band_fast_matches_spec)
    including short / empty / negative / zero-coordinate vectors.
    Parameterized so ANN can use its own banding constant (similarity
    q_ann_multiband: 8×8 — wider-net, looser bands) while dedup keeps
    4×16; UDFs are cached per config."""
    key = (n_bands, band_bits)
    if key not in _sign_keys_udfs:
        import numpy as np
        import pandas as pd
        from pyspark.sql.functions import pandas_udf

        NB, BB = n_bands, band_bits
        # uint64 weights: signed-64 numpy multiply is pathologically slow on
        # this platform (see minhash_signatures note)
        W = (np.uint64(1) << np.arange(BB, dtype=np.uint64))[None, None, :]

        def keys(vs):  # pd.Series[list[float]] -> pd.Series[list[int]]
            if len(vs) == 0:
                return pd.Series([], dtype=object)
            n = NB * BB
            arr = np.zeros((len(vs), n), dtype=np.float64)
            for i, v in enumerate(vs):
                if v is None:
                    continue
                m = min(len(v), n)
                arr[i, :m] = v[:m]
            # dims past the vector length stay 0.0 ⇒ sign bit 0, exactly the
            # spec's element_at-past-end → null → otherwise(0) behavior.
            # NaN coordinates SET the bit: Spark SQL and DuckDB both order
            # NaN above every number, so the spec's `x > 0` is true there
            # while numpy's is false (ADVICE r04) — OR in isnan to agree
            bits = ((arr > 0) | np.isnan(arr)).reshape(len(vs), NB, BB).astype(np.uint64)
            out = (bits * W).sum(axis=2).astype(np.int64)
            return pd.Series(list(out))

        _sign_keys_udfs[key] = pandas_udf(keys, "array<long>")
    return _sign_keys_udfs[key](vec_col)


def sign_band_rows(
    df: DataFrame,
    id_col: str,
    vec_col: str = "v",
    n_bands: int = SIGN_BANDS,
    band_bits: int = SIGN_BAND_BITS,
) -> DataFrame:
    """(id, band, key) rows — one per sign band; the layout the stored side
    of incremental embedding dedup keeps on disk (band analog of
    band_rows)."""
    return df.select(
        id_col,
        F.posexplode(sign_band_keys_fast(F.col(vec_col), n_bands, band_bits)).alias(
            "band", "key"
        ),
    )


def q_dedup_embedding(spark: SparkSession, sf: str) -> DataFrame:
    """Embedding near-dup at cos ≥ 0.9 over the influx corpus: banded
    coordinate-sign LSH candidates + exact fold-deterministic cosine verify.

    NO cartesian anywhere (round 1 shipped `a ⋈ b ON vec_a < vec_b` — an
    all-pairs scan that is O(n²) at 10⁹ vectors), and no weak bucket
    constant (round 2 used ONE 8-bit sign bucket = 256 keys, leaving an
    ~n²/256 within-bucket self-join): candidates come from an equi-join on
    4×16-bit sign band keys — 65,536 keys per band, measured near-perfectly
    uniform on this corpus (max occupancy 2 at sf0.1) — so per-band join
    work is Σ occupancy² ≈ n²/65,536, and the planted duplicates provably
    share EVERY band key (positive scaling never flips a sign; pigeonhole
    also covers any ≤3-sign-flip pair, mirroring q_dedup_simhash).
    Unrelated corpus pairs top out near cos 0.52, far under the 0.9
    threshold, so the banded plan returns EXACTLY the all-pairs answer —
    the oracle checks that claim against the plan-independent all-pairs SQL
    at sf0.01."""
    # session-lifetime cache by design (feeds band table + both verify
    # sides; re-runs reuse it via CacheManager plan-dedupe; MBs at bench sf)
    influx = embedding_influx(spark, sf).cache()
    bk = sign_band_rows(influx, "vec_id")
    a, b = bk.alias("a"), bk.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(F.col("a.vec_id").alias("vec_a"), F.col("b.vec_id").alias("vec_b"))
        .distinct()
    )
    # verification: candidates ∝ true duplicates — broadcast them so the
    # vector table never shuffles
    va = influx.select(F.col("vec_id").alias("vec_a"), F.col("v").alias("va"))
    vb = influx.select(F.col("vec_id").alias("vec_b"), F.col("v").alias("vb"))
    cos = vx.cosine(F.col("va"), F.col("vb"))
    return (
        _broadcast_if_small(cand)
        .join(va, "vec_a")
        .join(vb, "vec_b")
        .where(cos >= COSINE_DUP_TAU)
        .select("vec_a", "vec_b", F.round(cos, 6).alias("cos_sim"))
    )


def q_dedup_embedding_incremental(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental embedding near-dup: an arriving batch of vectors
    answered against the STORED corpus — the vector analog of
    q_dedup_incremental (and the steady-state ingest shape; the
    corpus-at-once q_dedup_embedding is the backfill job).

    The stored side's 4×16-bit sign band keys are computed at ingest
    (ensure_embedding_index) and PERSISTED; the query reads that table
    (parquet scan in the executed plan) and computes only the BATCH's band
    keys — per-batch cost ∝ batch bytes — equi-joining them, so candidates
    ∝ true duplicates and the stored corpus vectors are joined only at
    matching ids. Verification is the exact fold-deterministic cosine, so
    the oracle is the plan-independent all-pairs batch×corpus SQL; recall
    on the planted batch is provably 1 (positive perturbation flips no
    sign bit).

    Output: (new_id, orig_id, cos_sim) at cos ≥ 0.9."""
    idx = ensure_embedding_index(spark, sf)
    base, batch = _embedding_base_and_batch(spark, sf)
    return idx.match_embeddings(batch, base, tau=COSINE_DUP_TAU)


def q_dedup_embedding_allpairs(spark: SparkSession, sf: str) -> DataFrame:
    """All-pairs exactness baseline (NOT a registered query — the sf0.01
    cross-check in tests/test_operators.py proving the bucketed plan loses
    nothing; at scale this plan is the cartesian killer the bucketed form
    replaces)."""
    influx = embedding_influx(spark, sf)
    a = influx.select(F.col("vec_id").alias("vec_a"), F.col("v").alias("va"))
    b = influx.select(F.col("vec_id").alias("vec_b"), F.col("v").alias("vb"))
    cos = vx.cosine(F.col("va"), F.col("vb"))
    return (
        a.join(b, F.col("vec_a") < F.col("vec_b"))
        .where(cos >= COSINE_DUP_TAU)
        .select("vec_a", "vec_b", F.round(cos, 6).alias("cos_sim"))
    )


# --------------------------------------------------------------------------
# 6. duplicate-cluster assignment (connected components)
# --------------------------------------------------------------------------


def connected_components(
    pairs: DataFrame, max_iters: int = 20, driver_threshold: int = 4_000_000
) -> DataFrame:
    """Min-label propagation over an undirected pair list → (doc_id,
    cluster_id) where cluster_id = min doc id reachable.

    Adaptive, like a broadcast-join threshold: the pair list is bounded by
    the number of NEAR-DUPLICATES (tiny relative to the corpus), so below
    ``driver_threshold`` pairs a driver-side union-find answers in one
    collect — paying several Spark jobs per propagation round to cluster a
    few thousand edges is pure latency. Above it, the Pregel-style
    iterative DataFrame loop runs fully distributed; each round combines a
    neighbor-min step (one join + min-agg) with a POINTER-DOUBLING shortcut
    (labels joined to themselves: label[x] ← label[label[x]]), so
    convergence is O(log diameter) rounds, not O(diameter) — a 10⁶-long
    chain converges in ~20 rounds instead of 10⁶. Non-convergence within
    ``max_iters`` raises instead of silently returning partial clusters.

    ``driver_threshold`` is measured, not guessed (tools/bench_cc.py,
    table in BENCH.md): the driver tier wins at every size it can hold —
    4M edges cluster in 37 s driver-side vs 77 s distributed (the Pregel
    loop pays ~5-8 s of job scheduling per round × ~log2(diameter) rounds
    regardless of data size). The 4M default is a driver-MEMORY bound
    (~0.5 GB of collected rows), not a speed crossover; above it the
    distributed loop is the only tier that can hold the edges at all.

    Above the threshold the loop is HYBRID (VERDICT r04 #4): after each
    distributed round it counts the CONDENSED graph — distinct
    (label[u], label[v]) edges with label[u] ≠ label[v] — which collapses
    geometrically (a clique condenses to nothing after one round; a chain
    shrinks ~4× per round under neighbor-min + doubling). As soon as the
    condensed edge set fits ``driver_threshold``, it is collected, a
    driver union-find finishes the remaining merges, and one broadcast
    join maps every node's partial label to its final root — replacing
    the long tail of ~5-8 s/round scheduling constants that dominated the
    pure loop (8M edges: 97.6 s pure-distributed → the hybrid pays 1-2
    rounds + a ≤4M-edge collect). Full convergence is subsumed: a
    converged label set condenses to ZERO edges, so the driver finish is
    a no-op map (this also makes driver_threshold=0 an exact
    pure-distributed mode). Non-shrink within ``max_iters`` raises
    instead of silently returning partial clusters.
    """
    pairs = pairs.cache()
    n_pairs = pairs.count()  # materialize once — union branches read cache
    if n_pairs <= driver_threshold:
        # Arrow collect + numpy union-find (VERDICT r05 #4): the old row
        # collect() paid py4j per-row serialization (~75 s at 2M rows per
        # BENCH.md's hybrid-finish measurement); toPandas rides Arrow
        # batches. Ids are densified via np.unique (sorted, so a smaller
        # dense index IS a smaller doc id — min-root union = union to the
        # lower index) and the union-find runs over a flat int64 parent
        # array instead of a python dict.
        import numpy as np
        import pandas as _pd

        pdf = pairs.select("doc_a", "doc_b").toPandas()
        a = pdf["doc_a"].to_numpy()
        b = pdf["doc_b"].to_numpy()
        members, idx = np.unique(np.concatenate([a, b]), return_inverse=True)
        ia, ib = idx[: len(a)], idx[len(a):]
        parent = np.arange(len(members), dtype=np.int64)

        def find(x: int) -> int:
            root = x
            while parent[root] != root:
                root = parent[root]
            while parent[x] != root:  # path compression
                parent[x], x = root, parent[x]
            return root

        for x, y in zip(ia.tolist(), ib.tolist()):
            rx, ry = find(x), find(y)
            if rx != ry:
                lo, hi = (rx, ry) if rx < ry else (ry, rx)
                parent[hi] = lo
        roots = np.array([find(i) for i in range(len(members))], dtype=np.int64)
        id_type = pairs.schema["doc_a"].dataType
        out_schema = T.StructType(
            [T.StructField("doc_id", id_type), T.StructField("cluster_id", id_type)]
        )
        result = pairs.sparkSession.createDataFrame(
            _pd.DataFrame({"doc_id": members, "cluster_id": members[roots]}),
            out_schema,
        )
        pairs.unpersist()
        return result
    edges = (
        pairs.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
        .unionByName(pairs.select(F.col("doc_b").alias("u"), F.col("doc_a").alias("v")))
        .distinct()
        .cache()
    )
    # Iterative loops MUST truncate lineage per round: caching shortcuts
    # compute but the LOGICAL plan still nests, and the shortcut self-join
    # references the round's plan twice — exponential plan growth that
    # overflows the analyzer stack by ~round 12. localCheckpoint(eager)
    # materializes AND cuts the plan (on a cluster with lineage-loss
    # concerns, swap for reliable checkpoint(dir)).
    labels = edges.select("u").distinct().select(
        F.col("u").alias("doc_id"), F.col("u").alias("cluster_id")
    ).localCheckpoint(eager=True)
    # the eager checkpoint materialized `edges` (and its cache); every
    # later read goes through that cache, so the raw pair list can drop
    # now — previously only the driver tier unpersisted it (ADVICE r05)
    pairs.unpersist()
    id_type = labels.schema["cluster_id"].dataType
    for _ in range(max_iters):
        neighbor_min = (
            edges.join(labels, edges.v == labels.doc_id)
            .groupBy("u")
            .agg(F.min("cluster_id").alias("nmin"))
        )
        stepped = labels.join(
            neighbor_min, labels.doc_id == neighbor_min.u, "left"
        ).select(
            "doc_id",
            F.least(
                F.col("cluster_id"), F.coalesce(F.col("nmin"), F.col("cluster_id"))
            ).alias("cluster_id"),
        ).cache()  # feeds both sides of the shortcut self-join
        # pointer-doubling shortcut: label[x] ← min(label[x], label[label[x]])
        # (a label is always some member's doc_id, so the self-join resolves)
        # — halves the remaining path length every round, O(log diameter)
        parent = stepped.select(
            F.col("doc_id").alias("_pid"), F.col("cluster_id").alias("_pparent")
        )
        updated = (
            stepped.join(parent, stepped.cluster_id == parent._pid, "left")
            .select(
                "doc_id",
                F.least(
                    F.col("cluster_id"), F.coalesce(F.col("_pparent"), F.col("cluster_id"))
                ).alias("cluster_id"),
            )
            .localCheckpoint(eager=True)
        )
        stepped.unpersist()
        labels = updated
        # condensed graph: one edge per pair of distinct PARTIAL labels —
        # this count replaces the old per-round changed-count job (a
        # converged label set condenses to zero edges)
        lu = labels.select(F.col("doc_id").alias("u"), F.col("cluster_id").alias("lu"))
        lv = labels.select(F.col("doc_id").alias("v"), F.col("cluster_id").alias("lv"))
        cond = (
            edges.join(lu, "u")
            .join(lv, "v")
            .where(F.col("lu") != F.col("lv"))
            .select(
                F.least("lu", "lv").alias("a"), F.greatest("lu", "lv").alias("b")
            )
            .distinct()
            .cache()
        )
        n_cond = cond.count()
        if n_cond <= driver_threshold:
            # driver finish: union-find over the condensed edges, then ONE
            # broadcast-mapped join from partial label → final root. Both
            # driver transfers ride Arrow (toPandas / createDataFrame from
            # pandas): a row-collect + py4j list upload of ~10⁶ entries
            # measured ~30 s of pure serialization at the 8M-edge bench
            import pandas as _pd

            pdf = cond.toPandas()
            cond.unpersist()
            edges.unpersist()
            parent: dict = {}

            def find(x):
                while parent.get(x, x) != x:
                    parent[x] = parent.get(parent[x], parent[x])
                    x = parent[x]
                return x

            for ra, rb in zip(pdf["a"].tolist(), pdf["b"].tolist()):
                ra, rb = find(ra), find(rb)
                if ra != rb:
                    lo, hi = (ra, rb) if ra < rb else (rb, ra)
                    parent[hi] = lo
            if not len(pdf):
                return labels
            touched = set(pdf["a"].tolist()) | set(pdf["b"].tolist())
            map_schema = T.StructType(
                [
                    T.StructField("_old_label", id_type),
                    T.StructField("_final_label", id_type),
                ]
            )
            map_df = pairs.sparkSession.createDataFrame(
                _pd.DataFrame(
                    {"_old_label": list(touched),
                     "_final_label": [find(m) for m in touched]}
                ),
                map_schema,
            )
            return (
                labels.join(
                    F.broadcast(map_df),
                    labels.cluster_id == map_df._old_label,
                    "left",
                )
                .select(
                    "doc_id",
                    F.coalesce("_final_label", "cluster_id").alias("cluster_id"),
                )
            )
        cond.unpersist()
    edges.unpersist()
    # partial labels would silently merge/split clusters downstream
    raise RuntimeError(
        f"connected_components did not shrink under driver_threshold within "
        f"max_iters={max_iters}; raise max_iters (rounds needed ≈ "
        "log2(component diameter))"
    )


def clusters_pair_source(spark: SparkSession, sf: str) -> DataFrame:
    """The executed pair generator behind q_dedup_clusters: the MinHash-LSH
    tier (candidates ∝ true duplicates), NOT the inverted-index spec tier
    whose posting-list self-join inherits the Σ df² risk. The two produce
    identical pairs on this corpus (both verify exact Jaccard ≥ tau; LSH
    miss-probability ~1.5e-15 at this band config) — the shared oracle
    proves it. Audited in tools/audit_plans.py: no gram-keyed self-join."""
    return q_dedup_minhash_lsh(spark, sf)


def q_dedup_clusters(spark: SparkSession, sf: str) -> DataFrame:
    """Near-dup pairs → duplicate clusters with a canonical keeper (min id
    — the reference's first-writer-wins dedup semantics, D1)."""
    pairs = clusters_pair_source(spark, sf)
    labels = connected_components(pairs)
    return labels.select(
        "doc_id",
        "cluster_id",
        (F.col("doc_id") == F.col("cluster_id")).alias("is_canonical"),
    )


# --------------------------------------------------------------------------
# oracles
# --------------------------------------------------------------------------

# DuckDB fragments shared by several oracles
_SQL_TOKS = "list_filter(string_split(text, ' '), x -> x <> '')"
_SQL_GRAMS = f"""
    SELECT doc_id,
           list_distinct(
               list_transform(
                   generate_series(1, greatest(len({_SQL_TOKS}) - 2, 0)),
                   i -> {_SQL_TOKS}[i] || ' ' || {_SQL_TOKS}[i+1] || ' ' || {_SQL_TOKS}[i+2]
               )
           ) AS grams
    FROM documents
"""

# Candidate generation mirrors the Spark plan: pairs must share ≥1 gram
# whose document frequency is under max(MIN, FRAC·n_docs); scoring then uses
# the FULL gram sets, so Jaccard values are cap-independent.
_SQL_JACCARD_PAIRS = f"""
    WITH g AS ({_SQL_GRAMS}),
    e AS (SELECT doc_id, unnest(grams) AS gram FROM g),
    allowed AS (
        SELECT e.doc_id, e.gram
        FROM e JOIN (SELECT gram, COUNT(*) AS df FROM e GROUP BY 1) d USING (gram)
        WHERE d.df <= GREATEST({SHINGLE_DF_CAP_MIN},
                               FLOOR({SHINGLE_DF_CAP_FRAC} * (SELECT COUNT(*) FROM g)))
    ),
    cand AS (
        SELECT DISTINCT ca.doc_id AS doc_a, cb.doc_id AS doc_b
        FROM allowed ca JOIN allowed cb
          ON ca.gram = cb.gram AND ca.doc_id < cb.doc_id
    )
    SELECT c.doc_a, c.doc_b,
           ROUND(len(list_intersect(a.grams, b.grams))::DOUBLE
                 / (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams))),
                 6) AS jaccard
    FROM cand c JOIN g a ON a.doc_id = c.doc_a JOIN g b ON b.doc_id = c.doc_b
    WHERE len(list_intersect(a.grams, b.grams))::DOUBLE
          / (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams))) >= {JACCARD_TAU}
"""

# UNCAPPED exact form for the MinHash tier (full gram sets end-to-end):
# candidates = any shared gram (exactness-preserving prefilter), no df-cap.
_SQL_JACCARD_PAIRS_UNCAPPED = f"""
    WITH g AS ({_SQL_GRAMS}),
    e AS (SELECT doc_id, unnest(grams) AS gram FROM g),
    cand AS (
        SELECT DISTINCT ca.doc_id AS doc_a, cb.doc_id AS doc_b
        FROM e ca JOIN e cb
          ON ca.gram = cb.gram AND ca.doc_id < cb.doc_id
    )
    SELECT c.doc_a, c.doc_b,
           ROUND(len(list_intersect(a.grams, b.grams))::DOUBLE
                 / (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams))),
                 6) AS jaccard
    FROM cand c JOIN g a ON a.doc_id = c.doc_a JOIN g b ON b.doc_id = c.doc_b
    WHERE len(list_intersect(a.grams, b.grams))::DOUBLE
          / (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams))) >= {JACCARD_TAU}
"""

_SQL_CHARHASH = (
    "list_reduce(list_prepend(CAST(0 AS BIGINT), "
    "list_transform(regexp_extract_all({col}, '.'), c -> CAST(ascii(c) AS BIGINT))), "
    f"(acc, x) -> (acc * {tx.HASH_MULT} + x) % {tx.HASH_P})"
)

_SQL_SIMHASH = f"""
    WITH tok AS (
        SELECT doc_id, unnest(list_distinct({_SQL_TOKS})) AS tok FROM documents
    ), th AS (
        SELECT doc_id,
               ({_SQL_CHARHASH.format(col="tok")} * {tx.MIX32}) % {tx.TWO32} AS h_lo,
               ({_SQL_CHARHASH.format(col="tok")} * {tx.MIX32B} + 1) % {tx.TWO32} AS h_hi
        FROM tok
    ), bits AS (
        SELECT doc_id, j,
               SUM(CASE WHEN (h_lo >> j) & 1 = 1 THEN 1 ELSE -1 END) AS s_lo,
               SUM(CASE WHEN (h_hi >> j) & 1 = 1 THEN 1 ELSE -1 END) AS s_hi
        FROM th, unnest(generate_series(0, 31)) AS t(j)
        GROUP BY 1, 2
    ), sim AS (
        SELECT doc_id,
               SUM(CASE WHEN s_lo > 0 THEN (CAST(1 AS BIGINT) << j) ELSE CAST(0 AS BIGINT) END) AS sim_lo,
               SUM(CASE WHEN s_hi > 0 THEN (CAST(1 AS BIGINT) << j) ELSE CAST(0 AS BIGINT) END) AS sim_hi
        FROM bits GROUP BY 1
    )
"""

# j is 1-based in DuckDB generate_series indexing, 0-based in Spark's
# transform lambda — hence (j-1); the float expression order matches
# Spark's exactly, so the perturbed vectors are bit-identical doubles.
_SQL_COSINE_PAIRS = f"""
    WITH base AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
    ), influx AS (
        SELECT vec_id, v FROM base
        UNION ALL
        SELECT vec_id + {INFLUX_OFFSET},
               list_transform(generate_series(1, len(v)),
                   j -> v[j] * (1.0 + 0.04 * CAST((vec_id + (j - 1)) % 5 AS DOUBLE) / 5.0))
        FROM base
    ), n AS (
        SELECT vec_id, v,
               sqrt(list_reduce(list_prepend(0.0::DOUBLE,
                    list_transform(generate_series(1, len(v)), i -> v[i] * v[i])),
                    (acc, x) -> acc + x)) AS nrm
        FROM influx
    )
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           ROUND(list_reduce(list_prepend(0.0::DOUBLE,
                     list_transform(generate_series(1, len(a.v)), i -> a.v[i] * b.v[i])),
                     (acc, x) -> acc + x) / (a.nrm * b.nrm), 6) AS cos_sim
    FROM n a JOIN n b ON a.vec_id < b.vec_id
    WHERE list_reduce(list_prepend(0.0::DOUBLE,
              list_transform(generate_series(1, len(a.v)), i -> a.v[i] * b.v[i])),
              (acc, x) -> acc + x) / (a.nrm * b.nrm) >= {COSINE_DUP_TAU}
"""

ORACLES: dict[str, str] = {
    "q_dedup_exact": f"""
        WITH influx AS (
            SELECT doc_id, text FROM documents
            UNION ALL
            SELECT doc_id + {INFLUX_OFFSET}, text FROM documents
        )
        SELECT MIN(doc_id) AS keeper_id, COUNT(*) AS n_copies, LENGTH(text) AS text_len
        FROM influx GROUP BY text
    """,
    "q_dedup_ngram_jaccard": _SQL_JACCARD_PAIRS,
    # MinHash-LSH is verified against the EXACT UNCAPPED Jaccard oracle:
    # its signatures/verification use FULL gram sets (no df-cap — that is
    # the ngram tier's candidate-generation policy, not this plan's), so
    # its oracle must not cap either; on a corpus where a qualifying pair
    # shares only over-cap grams the two tiers now legitimately differ.
    # The shared-gram prefilter below is exactness-preserving (J ≥ tau > 0
    # needs a nonempty intersection). Banding at this config has
    # miss-probability ~1.5e-15 for the J≥0.9 pairs in the data, and
    # verification makes precision exact.
    "q_dedup_minhash_lsh": _SQL_JACCARD_PAIRS_UNCAPPED,
    # incremental tier: plan-independent all-pairs batch×corpus form (the
    # batch is the corpus re-crawled under the influx offset; no ordering
    # constraint — every batch doc pairs with every stored doc it matches,
    # including its own original at J=1.0)
    # the shared-gram prefilter is exactness-preserving (J ≥ tau > 0
    # requires a nonempty intersection), it just spares DuckDB the n²
    # list_intersect scan
    "q_dedup_incremental": f"""
        WITH g AS ({_SQL_GRAMS}),
        e AS (SELECT doc_id, unnest(grams) AS gram FROM g),
        cand AS (
            SELECT DISTINCT a.doc_id AS bd, c.doc_id AS od
            FROM e a JOIN e c USING (gram)
        )
        SELECT b.doc_id + {INFLUX_OFFSET} AS new_id, o.doc_id AS orig_id,
               ROUND(len(list_intersect(b.grams, o.grams))::DOUBLE
                     / (len(b.grams) + len(o.grams) - len(list_intersect(b.grams, o.grams))),
                     6) AS jaccard
        FROM cand JOIN g b ON b.doc_id = cand.bd JOIN g o ON o.doc_id = cand.od
        WHERE len(list_intersect(b.grams, o.grams))::DOUBLE
              / (len(b.grams) + len(o.grams) - len(list_intersect(b.grams, o.grams)))
              >= {JACCARD_TAU}
    """,
    "q_dedup_simhash": _SQL_SIMHASH
    + f"""
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.sim_lo, b.sim_lo))
              + bit_count(xor(a.sim_hi, b.sim_hi)) AS BIGINT) AS hamming
    FROM sim a JOIN sim b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.sim_lo, b.sim_lo))
        + bit_count(xor(a.sim_hi, b.sim_hi)) <= {SIMHASH_RADIUS}
    """,
    "q_dedup_embedding": _SQL_COSINE_PAIRS,
    # incremental embedding tier: plan-independent all-pairs batch×corpus
    # (batch = the perturbed copies; no ordering constraint — the batch
    # side crosses the full stored corpus)
    "q_dedup_embedding_incremental": f"""
        WITH base AS (
            SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings
        ), batch AS (
            SELECT vec_id + {INFLUX_OFFSET} AS vec_id,
                   list_transform(generate_series(1, len(v)),
                       j -> v[j] * (1.0 + 0.04 * CAST((vec_id + (j - 1)) % 5 AS DOUBLE) / 5.0)) AS v
            FROM base
        ), nb AS (
            SELECT vec_id, v,
                   sqrt(list_reduce(list_prepend(0.0::DOUBLE,
                        list_transform(generate_series(1, len(v)), i -> v[i] * v[i])),
                        (acc, x) -> acc + x)) AS nrm
            FROM base
        ), nn AS (
            SELECT vec_id, v,
                   sqrt(list_reduce(list_prepend(0.0::DOUBLE,
                        list_transform(generate_series(1, len(v)), i -> v[i] * v[i])),
                        (acc, x) -> acc + x)) AS nrm
            FROM batch
        )
        SELECT p.vec_id AS new_id, b.vec_id AS orig_id,
               ROUND(list_reduce(list_prepend(0.0::DOUBLE,
                         list_transform(generate_series(1, len(p.v)), i -> p.v[i] * b.v[i])),
                         (acc, x) -> acc + x) / (p.nrm * b.nrm), 6) AS cos_sim
        FROM nn p JOIN nb b
          ON list_reduce(list_prepend(0.0::DOUBLE,
                 list_transform(generate_series(1, len(p.v)), i -> p.v[i] * b.v[i])),
                 (acc, x) -> acc + x) / (p.nrm * b.nrm) >= {COSINE_DUP_TAU}
    """,
    # connected components via recursive transitive closure — tractable in
    # the oracle because dup clusters are tiny; the Spark side is the
    # iterative min-label loop that scales
    # clusters consume the LSH (uncapped) pair tier — oracle matches it
    "q_dedup_clusters": f"""
        WITH RECURSIVE pairs AS ({_SQL_JACCARD_PAIRS_UNCAPPED}),
        edges AS (
            SELECT doc_a AS u, doc_b AS v FROM pairs
            UNION
            SELECT doc_b, doc_a FROM pairs
        ),
        reach(u, v) AS (
            SELECT u, v FROM edges
            UNION
            SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
        )
        SELECT u AS doc_id,
               LEAST(u, MIN(v)) AS cluster_id,
               (u = LEAST(u, MIN(v))) AS is_canonical
        FROM reach GROUP BY u
    """,
}

QUERIES = {
    "q_dedup_exact": q_dedup_exact,
    "q_dedup_ngram_jaccard": q_dedup_ngram_jaccard,
    "q_dedup_minhash_lsh": q_dedup_minhash_lsh,
    "q_dedup_incremental": q_dedup_incremental,
    "q_dedup_simhash": q_dedup_simhash,
    "q_dedup_embedding": q_dedup_embedding,
    "q_dedup_embedding_incremental": q_dedup_embedding_incremental,
    "q_dedup_clusters": q_dedup_clusters,
}

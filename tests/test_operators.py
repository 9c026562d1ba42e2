"""Unit tests for operator invariants beyond the DuckDB oracle gate."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from crawl4ai_llm_spark.frontier.hashing import spark_hash_str
from crawl4ai_llm_spark.functions.urls import _canonicalize_one
from crawl4ai_llm_spark.operators import dedup, similarity


def test_murmur3_matches_spark_hash(spark):
    vals = ["", "a", "abc", "abcd", "abcde", "https://x.y/p?a=1", "ü†e", "x" * 100]
    df = spark.createDataFrame([(v,) for v in vals], ["s"]).select(
        "s", F.hash("s").alias("h")
    )
    for r in df.collect():
        assert r["h"] == spark_hash_str(r["s"]), r["s"]


def test_canonicalizer_rules():
    f = _canonicalize_one
    assert f("HTTPS://HOST0.Example:443/p/1#frag") == "https://host0.example/p/1"
    assert f("http://A.B:80/x/./y/../z?b=2&a=1") == "http://a.b/x/z?a=1&b=2"
    assert f("https://h.e") == "https://h.e/"
    assert f("ftp://h/x") is None
    assert f("not a url") is None
    assert f(None) is None


def test_simhash_band_blocking_is_exhaustive(spark, sf_dir):
    """Pigeonhole property on the 64-bit fingerprint (two 32-bit halves):
    4×16-bit banded candidates find EVERY pair within the Hamming radius
    (compare against brute force on the same simhashes)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(120)
    toks = docs.select("doc_id", F.array_distinct(
        F.filter(F.split("text", " "), lambda x: x != F.lit(""))).alias("toks"))
    sim = dedup.simhash64(toks).collect()
    sims = {r["doc_id"]: (r["sim_lo"], r["sim_hi"]) for r in sim}
    ids = sorted(sims)

    def ham(a, b):
        return bin(sims[a][0] ^ sims[b][0]).count("1") + bin(
            sims[a][1] ^ sims[b][1]
        ).count("1")

    def bandkeys(d):
        lo, hi = sims[d]
        return [lo & 0xFFFF, (lo >> 16) & 0xFFFF, hi & 0xFFFF, (hi >> 16) & 0xFFFF]

    brute = {
        (a, b)
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if ham(a, b) <= dedup.SIMHASH_RADIUS
    }
    assert brute, "fixture must contain in-radius pairs"
    for a, b in brute:  # every brute pair must share ≥1 of the 4 bands
        assert any(ka == kb for ka, kb in zip(bandkeys(a), bandkeys(b))), (a, b)


def test_simhash_16bit_bands_cut_join_work(spark, sf_dir):
    """Scale property the 64-bit rewrite bought: 16-bit bands (65,536
    keys/band) spread docs across far more buckets than 8-bit bands (256
    keys/band), so the within-bucket self-join work Σ n(n-1)/2 — the term
    that goes quadratic at 10⁹ docs — drops sharply on the same corpus."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = docs.select("doc_id", F.array_distinct(
        F.filter(F.split("text", " "), lambda x: x != F.lit(""))).alias("toks"))
    sims = dedup.simhash64(toks).collect()

    def join_work(bits):
        from collections import Counter

        mask = (1 << bits) - 1
        c = Counter()
        for r in sims:
            lo, hi = r["sim_lo"], r["sim_hi"]
            if bits == 16:
                keys = [(0, lo & mask), (1, (lo >> 16) & mask),
                        (2, hi & mask), (3, (hi >> 16) & mask)]
            else:  # the round-1 8-bit banding over the low half
                keys = [(b, (lo >> (8 * b)) & mask) for b in range(4)]
            for k in keys:
                c[k] += 1
        return sum(n * (n - 1) // 2 for n in c.values())

    w16, w8 = join_work(16), join_work(8)
    assert w16 < w8 / 2, (w16, w8)


def test_with_simhash_matches_expression_path(spark, sf_dir):
    """r08 fused fingerprint pass: with_simhash (one Arrow pass from raw
    text — tokenize + distinct + polynomial char hash + mixes + sign fold
    in numpy) must be BIT-IDENTICAL to the expression-tier path
    simhash64(array_distinct(tokens(text))), including dropping
    zero-token docs."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    # exercise the empty-token and null paths too
    extra = spark.createDataFrame(
        [(90_001, ""), (90_002, "   "), (90_003, None), (90_004, "one two one")],
        "doc_id long, text string",
    )
    docs = docs.unionByName(extra)
    toks = docs.select(
        "doc_id", F.array_distinct(
            F.filter(F.split("text", " "), lambda x: x != F.lit(""))).alias("toks")
    )
    expected = {
        r["doc_id"]: (r["sim_lo"], r["sim_hi"])
        for r in dedup.simhash64(toks).collect()
    }
    got = {
        r["doc_id"]: (r["sim_lo"], r["sim_hi"])
        for r in dedup.with_simhash(docs).collect()
    }
    assert got == expected
    assert 90_004 in got and 90_001 not in got and 90_003 not in got


def test_simhash_fp_group_plan_emits_unique_pairs(spark, sf_dir):
    """r08 fingerprint-group rewrite: the query must emit every in-radius
    pair EXACTLY once (the old plan deduped with a result-sized distinct;
    the new plan proves uniqueness by construction — first-matching-band
    edges over disjoint fp groups)."""
    rows = dedup.q_dedup_simhash(spark, sf_dir).collect()
    pairs = [(r["doc_a"], r["doc_b"]) for r in rows]
    assert len(pairs) == len(set(pairs)), "duplicate pair emitted"
    assert all(a < b for a, b in pairs)
    assert len(pairs) > 0


def test_embedding_bucketed_equals_allpairs(spark, sf_dir):
    """The sign-LSH bucketed near-dup plan returns EXACTLY the all-pairs
    answer on the influx corpus (positive perturbation preserves signs ⇒
    planted dups always share a bucket; unrelated pairs sit far below the
    0.9 threshold) — the no-cartesian plan loses nothing."""
    bucketed = {
        (r["vec_a"], r["vec_b"], r["cos_sim"])
        for r in dedup.q_dedup_embedding(spark, sf_dir).collect()
    }
    allpairs = {
        (r["vec_a"], r["vec_b"], r["cos_sim"])
        for r in dedup.q_dedup_embedding_allpairs(spark, sf_dir).collect()
    }
    assert bucketed == allpairs
    assert len(bucketed) > 0


def test_incremental_reads_persisted_index(spark, tmp_path):
    """VERDICT r03 #1 'done' criterion: after ingest, a batch match must
    (a) scan the PERSISTED band table (parquet scan of the index warehouse
    in the executed plan) and (b) run the signature pass over the BATCH
    only — proven at runtime by an accumulator in the sig UDF: matching a
    10-doc batch against a 200-doc indexed corpus signs ≤ 10 docs (not
    210, the r03 recompute-in-query shape)."""
    from crawl4ai_llm_spark.operators.dedup_store import DedupIndex

    words = "alpha beta gamma delta epsilon zeta eta theta iota kappa".split()
    corpus_rows = [
        (i, " ".join(words[(i + j) % 10] + str(i * 7 + j) for j in range(30)))
        for i in range(200)
    ]
    # batch: 10 docs, each a near-copy of corpus doc i (one token changed)
    batch_rows = [
        (1000 + i, corpus_rows[i][1].replace(words[i % 10] + str(i * 7), "CHANGED", 1))
        for i in range(10)
    ]
    corpus = spark.createDataFrame(corpus_rows, "doc_id long, text string")
    batch = spark.createDataFrame(batch_rows, "doc_id long, text string")

    wh = str(tmp_path / "dedup_idx")
    acc = spark.sparkContext.accumulator(0)
    old_udf, old_tudf, old_counter = dedup._sig_udf, dedup._text_sig_udf, dedup._SIG_ROWS_COUNTER
    dedup._sig_udf, dedup._text_sig_udf, dedup._SIG_ROWS_COUNTER = None, None, acc
    try:
        idx = DedupIndex(spark, wh)
        idx.ingest_documents(corpus)
        assert acc.value == 200  # ingest signs the corpus once
        out = idx.match_documents(batch, corpus)
        rows = out.collect()
        # every planted near-copy matches its original at high J
        got = {(r["new_id"], r["orig_id"]) for r in rows}
        assert {(1000 + i, i) for i in range(10)} <= got
        # (b) the match signed ONLY batch docs (≤2 actions over ≤10 docs;
        # the stored 200 never re-signed)
        assert 200 + 10 <= acc.value <= 200 + 2 * 10, acc.value
        # (a) the executed plan reads the persisted band table (formatted
        # explain keeps the scan Location; toString elides long paths)
        import contextlib
        import io

        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            out.explain("formatted")
        assert "dedup_idx" in buf.getvalue() and "minhash_bands" in buf.getvalue()
    finally:
        dedup._sig_udf, dedup._text_sig_udf, dedup._SIG_ROWS_COUNTER = old_udf, old_tudf, old_counter


def test_sign_band_fast_matches_spec(spark):
    """The Arrow-vectorized sign_band_keys_fast must equal the expression
    spec (the oracle form) bit-for-bit — including short vectors (missing
    dims read as sign 0), empty vectors, zeros and negatives."""
    rows = [
        (0, [1.0] * 64),
        (1, [-1.0] * 64),
        (2, [0.0] * 64),
        (3, [((-1.0) ** j) * (j + 1) for j in range(64)]),
        (4, [1.0, -2.0, 3.0]),  # shorter than one band
        (5, []),
        (6, [0.5] * 70),  # longer than 4 bands
        (7, [1e-3, -1e-3] * 32),
        # NaN sets the bit in BOTH paths: Spark SQL (and DuckDB) order NaN
        # above every number so the spec's `x > 0` is true; the fast path
        # ORs in isnan to match (ADVICE r04)
        (8, [float("nan")] * 64),
        (9, [float("nan"), -1.0, float("nan"), 0.0] * 16),
    ]
    df = spark.createDataFrame(rows, "vec_id long, v array<double>")
    spec = {
        (r["vec_id"], r["bk"]["band"]): r["bk"]["key"]
        for r in df.select(
            "vec_id", F.explode(dedup.sign_band_keys(F.col("v"))).alias("bk")
        ).collect()
    }
    fast = {
        (r["vec_id"], r["band"]): r["key"]
        for r in dedup.sign_band_rows(df, "vec_id").collect()
    }
    assert fast == spec
    assert len(fast) == len(rows) * dedup.SIGN_BANDS


def test_parse_byte_size_suffixes():
    """Spark size configs arrive as plain ints OR JVM suffix forms; the
    scan estimate must parse both instead of crashing (ADVICE r04)."""
    p = dedup._parse_byte_size
    assert p("134217728") == 134217728
    assert p("128m") == 128 << 20
    assert p("128MB") == 128 << 20
    assert p("1g") == 1 << 30
    assert p("512k") == 512 << 10
    assert p("64b") == 64
    assert p("1.5g") == int(1.5 * (1 << 30))
    assert p("garbage") == 134217728  # unparseable -> Spark default


def test_embedding_dedup_plan_has_no_cartesian(spark, sf_dir):
    plan = dedup.q_dedup_embedding(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_pandas_topk_matches_fold_topk(spark, sf_dir):
    want = {
        (r["query_id"], r["vec_id"], r["rn"]): r["cos_sim"]
        for r in similarity.q_ann_topk(spark, sf_dir).collect()
    }
    got = {
        (r["query_id"], r["vec_id"], r["rn"]): r["cos_sim"]
        for r in similarity.topk_pandas(spark, sf_dir).collect()
    }
    assert set(got) == set(want)
    for k in want:
        assert abs(got[k] - want[k]) < 1e-6


def test_multiband_ann_beats_single_bucket_recall(spark, sf_dir):
    """q_ann_multiband's 8 looser bands must catch at least as many true
    neighbors as the single 8-bit bucket (VERDICT r03 #5: recall must not
    hinge on one bucket) — measured on exact brute-force top-3."""
    from pyspark.sql.window import Window

    from crawl4ai_llm_spark.functions import vectors as vx

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", vx.as_double(F.col("embedding")).alias("v")
    )
    q = emb.where(F.col("vec_id") < similarity.LSH_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    cos = vx.cosine(F.col("qv"), F.col("v"))
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("vec_id").asc())
    exact = {
        (r["query_id"], r["vec_id"])
        for r in (
            F.broadcast(q)
            .join(emb, F.col("query_id") != F.col("vec_id"))
            .select("query_id", "vec_id", cos.alias("sim"))
            .withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") <= similarity.LSH_TOP_K)
            .collect()
        )
    }
    mb = {
        (r["query_id"], r["vec_id"])
        for r in similarity.q_ann_multiband(spark, sf_dir).collect()
    }
    ob = {
        (r["query_id"], r["vec_id"])
        for r in similarity.q_ann_lsh_bucketed(spark, sf_dir).collect()
    }
    mb_recall = len(mb & exact) / len(exact)
    ob_recall = len(ob & exact) / len(exact)
    assert mb_recall >= ob_recall, (mb_recall, ob_recall)
    assert len(mb) > 0


def test_ivf_recall_vs_brute_force(spark, sf_dir):
    """IVF at the tuned default (n_probe=10) must clear 0.9 recall@5 vs
    exact brute force. This synthetic corpus is near-uniform (no cluster
    structure — max pairwise cosine 0.51), the worst case for a coarse
    quantizer; measured recall@5 at sf0.001: n_probe 3→0.36, 6→0.64,
    8→0.76, 10→0.96, 12→1.0. Real embedding corpora cluster, needing far
    fewer probes."""
    exact = {
        (r["query_id"], r["vec_id"])
        for r in similarity.q_ann_topk(spark, sf_dir).collect()
    }
    ivf = {
        (r["query_id"], r["vec_id"])
        for r in similarity.ivf_topk(spark, sf_dir).collect()
    }
    recall = len(exact & ivf) / len(exact)
    assert recall >= 0.9, f"IVF recall too low: {recall}"


def test_connected_components_distributed_pointer_doubling(spark):
    """The distributed tier must converge in O(log diameter) rounds: a
    300-node chain resolves within 15 rounds only via the pointer-doubling
    shortcut (plain min-label needs 299 rounds — and non-convergence now
    raises instead of silently returning split clusters)."""
    pairs = spark.range(299).select(
        F.col("id").alias("doc_a"), (F.col("id") + 1).alias("doc_b")
    )
    labels = dedup.connected_components(pairs, max_iters=15, driver_threshold=0)
    assert labels.count() == 300
    assert labels.where(F.col("cluster_id") != 0).count() == 0


def test_multiprobe_expansion_shape_and_superset(spark, sf_dir):
    """multi_probe_keys must emit exactly 8 exact + 18 flipped keys per
    query, every flip differing from its band's exact key by ONE bit —
    and the multiprobe result set must therefore rank at least as many
    candidates as multiband (probe keys ⊇ exact keys)."""
    from crawl4ai_llm_spark.operators import similarity as sim

    emb = sim.load_table(spark, sf_dir, "embeddings").select(
        "vec_id", sim.vx.as_double(F.col("embedding")).alias("v")
    ).where(F.col("vec_id") < 5)
    rows = emb.select(
        "vec_id", sim.multi_probe_keys(F.col("v")).alias("probes")
    ).collect()
    for r in rows:
        probes = [(p["band"], p["key"]) for p in r["probes"]]
        assert len(probes) == sim.ANN_BANDS + sim.ANN_PROBE_FLIPS
        exact = dict(probes[: sim.ANN_BANDS])
        assert len(exact) == sim.ANN_BANDS  # one exact key per band
        for b, k in probes[sim.ANN_BANDS :]:
            diff = exact[b] ^ k
            assert diff != 0 and (diff & (diff - 1)) == 0  # exactly 1 bit
    # candidate superset: every multiband top-3 (query, vec) pair's source
    # candidate set is contained in multiprobe's, so multiprobe's ranked
    # sims at each rank are >= multiband's
    mb = {(r["query_id"], r["rn"]): r["cos_sim"]
          for r in sim.q_ann_multiband(spark, sf_dir).collect()}
    mp = {(r["query_id"], r["rn"]): r["cos_sim"]
          for r in sim.q_ann_multiprobe(spark, sf_dir).collect()}
    for key, v in mb.items():
        assert key in mp and mp[key] >= v - 1e-9


def test_connected_components_hybrid_driver_finish(spark):
    """The hybrid tier (VERDICT r04 #4): with a threshold between the
    condensed size after one round and the raw edge count, the loop must
    shrink distributed, then finish on the driver — and produce the same
    min-label clusters as the pure tiers. 20 chains of 50 nodes: 980 raw
    edges > 600 ≥ condensed-after-round-1 (~12 labels/chain ⇒ ~220)."""
    L, C = 50, 20
    pairs = (
        spark.range(C * L)
        .where((F.col("id") % L) != L - 1)
        .select(F.col("id").alias("doc_a"), (F.col("id") + 1).alias("doc_b"))
    )
    labels = dedup.connected_components(pairs, max_iters=10, driver_threshold=600)
    got = {(r["doc_id"], r["cluster_id"]) for r in labels.collect()}
    want = {(i, (i // L) * L) for i in range(C * L)}
    assert got == want


def test_df_cap_kills_stop_phrase_pair_explosion(spark):
    """An ultra-common shingle (planted in EVERY doc) must not explode the
    inverted-index candidate count: ungated it alone emits n(n-1)/2 pairs —
    the Σ df² quadratic at scale. With the df cap, candidates come only from
    under-cap grams, and a true duplicate pair (sharing RARE grams) is still
    found with its exact full-set Jaccard."""
    n = 200  # cap = max(32, 0.05·200) = 32 ⇒ the df=200 stop gram is banned
    rows = [(i, [f"g{i}x", f"g{i}y", f"g{i}z", "STOP PHRASE GRAM"]) for i in range(n)]
    # plant one true dup: doc n shares doc 0's rare grams
    rows.append((n, [f"g0x", f"g0y", f"g0z", "STOP PHRASE GRAM"]))
    sh = spark.createDataFrame(rows, "doc_id long, grams array<string>")
    cand = {
        (r["doc_a"], r["doc_b"])
        for r in dedup._candidate_pairs_inverted(sh).collect()
    }
    assert cand == {(0, n)}, f"stop-phrase gram leaked {len(cand)} candidate pairs"
    scored = dedup._jaccard_pairs(sh, dedup.JACCARD_TAU).collect()
    assert [(r["doc_a"], r["doc_b"], r["jaccard"]) for r in scored] == [(0, n, 1.0)]


def test_minhash_candidates_superset_of_true_pairs(spark, sf_dir):
    """LSH recall check at this band config: candidates ⊇ all pairs the
    exact shingle join finds at the query threshold."""
    sh = dedup.doc_shingles(spark, sf_dir).cache()
    true_pairs = {
        (r["doc_a"], r["doc_b"])
        for r in dedup._jaccard_pairs(sh, dedup.JACCARD_TAU).collect()
    }
    cand = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.lsh_candidates(dedup.minhash_signatures(sh)).collect()
    }
    assert true_pairs <= cand
    sh.unpersist()


def test_default_driver_memory_clamped_to_host(monkeypatch):
    """ADVICE r06: the driver-heap default must not bake in the 128 GiB
    sandbox — env override wins, otherwise ~25% of physical RAM clamped
    to [2g, 32g]."""
    import re

    from crawl4ai_llm_spark import session as S

    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "5g")
    assert S._default_driver_memory() == "5g"
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM")
    got = S._default_driver_memory()
    assert re.fullmatch(r"\d+g", got)
    assert 2 <= int(got[:-1]) <= 32


def test_match_documents_driver_parity_and_gates(spark, tmp_path, monkeypatch):
    """r07 driver-tier match (VERDICT r06 #1): same pairs, same jaccard
    values as the distributed verify — and every driver-size gate falls
    back to None instead of truncating results."""
    from crawl4ai_llm_spark.operators import dedup_store as ds
    from crawl4ai_llm_spark.operators.dedup_store import DedupIndex

    words = "alpha beta gamma delta epsilon zeta eta theta iota kappa".split()
    corpus_rows = [
        (i, " ".join(words[(i + j) % 10] + str(i * 7 + j) for j in range(30)))
        for i in range(200)
    ]
    batch_rows = [
        (1000 + i, corpus_rows[i][1].replace(words[i % 10] + str(i * 7), "CHANGED", 1))
        for i in range(10)
    ] + [(2000, "too short text")]  # <3-gram doc: dropped from sig domain
    corpus = spark.createDataFrame(corpus_rows, "doc_id long, text string")
    batch = spark.createDataFrame(batch_rows, "doc_id long, text string")

    idx = DedupIndex(spark, str(tmp_path / "wh"))
    idx.ingest_documents(corpus)
    prepared = idx.prepare_batch(batch).cache()
    try:
        dist = {
            (r["new_id"], r["orig_id"]): r["jaccard"]
            for r in idx.match_documents(
                batch, corpus, prepared=prepared, n_batch=len(batch_rows)
            ).collect()
        }
        drv = idx.match_documents_driver(
            corpus, prepared=prepared, n_batch=len(batch_rows)
        )
        assert drv is not None
        got = {(p["new_id"], p["orig_id"]): p["jaccard"] for p in drv}
        assert got == dist and len(got) >= 10
        # native id types survive (longs, not strings)
        assert all(isinstance(k[0], int) for k in got)

        # gate 1: batch too fat for a broadcast probe
        assert (
            idx.match_documents_driver(
                corpus, prepared=prepared,
                n_batch=ds.BROADCAST_BAND_ROW_BUDGET,  # × N_BANDS ≫ budget
            )
            is None
        )
        # gate 2: probe overflow (per-partition cap) → sentinel → None
        monkeypatch.setattr(ds, "PER_PART_PROBE_CAP", 1)
        assert (
            idx.match_documents_driver(corpus, prepared=prepared, n_batch=11)
            is None
        )
        monkeypatch.undo()
        # gate 3: matched-doc text pull too fat
        monkeypatch.setattr(ds, "DRIVER_MATCH_DOC_BUDGET", 1)
        assert (
            idx.match_documents_driver(corpus, prepared=prepared, n_batch=11)
            is None
        )
    finally:
        prepared.unpersist()


def test_blocked_minhash_kernel_matches_full_width():
    """The cache-blocked signature kernel (_SIG_BLOCK rows at a time) must
    be bit-identical to the one-shot full-width multiply-shift form it
    replaced — same uint64 wraparound, same reduceat segment mins,
    including length-1 and repeated-start (clamped empty-gram) segments."""
    import numpy as np

    rng = np.random.default_rng(11)
    k, n_grams = 128, 10_000
    A = rng.integers(1, 2**63, size=k, dtype=np.uint64)[:, None] * np.uint64(2) + np.uint64(1)
    B = rng.integers(0, 2**63, size=k, dtype=np.uint64)[:, None]
    shift = np.uint64(33)
    gh = rng.integers(0, 2**64, size=n_grams, dtype=np.uint64)
    # segment starts with a duplicate (what the clamped empty-doc path
    # produces) and a final length-1 segment
    starts = np.array([0, 5, 5, 700, 4096, n_grams - 1], dtype=np.int64)

    full = (A * gh[None, :] + B) >> shift
    expected = np.minimum.reduceat(full, starts, axis=1)
    got = dedup._blocked_minhash(A, B, shift, gh, starts)
    assert got.dtype == np.uint64
    assert np.array_equal(got, expected)


@pytest.mark.parametrize("value,ok", [("0", False), ("129", False), ("-8", False), ("1", True), ("128", True)])
def test_sig_block_env_validated_at_import(value, ok):
    """SPARK_GRAFT_SIG_BLOCK outside 1..128 fails the import with a clear
    ValueError instead of crashing every signing task later."""
    import os
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.run(
        [sys.executable, "-c", "import crawl4ai_llm_spark.operators.dedup"],
        cwd=root,
        env={**os.environ, "SPARK_GRAFT_SIG_BLOCK": value},
        capture_output=True,
        text=True,
    )
    if ok:
        assert proc.returncode == 0, proc.stderr
    else:
        assert proc.returncode != 0
        assert "ValueError: SPARK_GRAFT_SIG_BLOCK must be in 1..128" in proc.stderr


@pytest.mark.parametrize(
    "value,ok", [("abc", False), ("-1", False), ("1.5", False), ("0", True), ("1048576", True)]
)
def test_driver_text_read_bytes_env_validated_at_import(value, ok):
    """SPARK_GRAFT_DRIVER_TEXT_READ_BYTES that is not a non-negative
    integer fails the engine import with a ValueError naming it."""
    import os
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.run(
        [sys.executable, "-c", "import crawl4ai_llm_spark.frontier.engine"],
        cwd=root,
        env={**os.environ, "SPARK_GRAFT_DRIVER_TEXT_READ_BYTES": value},
        capture_output=True,
        text=True,
    )
    if ok:
        assert proc.returncode == 0, proc.stderr
    else:
        assert proc.returncode != 0
        assert "ValueError: SPARK_GRAFT_DRIVER_TEXT_READ_BYTES must be a non-negative" in proc.stderr


@pytest.mark.parametrize(
    "name,value,ok",
    [
        ("SPARK_GRAFT_CPUS", "abc", False),
        ("SPARK_GRAFT_CPUS", "0", False),
        ("SPARK_GRAFT_CPUS", "-4", False),
        ("SPARK_GRAFT_CPUS", "2.5", False),
        ("SPARK_GRAFT_CPUS", "4", True),
        ("SPARK_GRAFT_DRIVER_MEM", "lots", False),
        ("SPARK_GRAFT_DRIVER_MEM", "4", False),
        ("SPARK_GRAFT_DRIVER_MEM", "4 GB", False),
        ("SPARK_GRAFT_DRIVER_MEM", "0g", False),
        ("SPARK_GRAFT_DRIVER_MEM", "4g", True),
        ("SPARK_GRAFT_DRIVER_MEM", "512m", True),
    ],
)
def test_session_env_validated_at_import(name, value, ok):
    """SPARK_GRAFT_CPUS must be a positive integer and
    SPARK_GRAFT_DRIVER_MEM a JVM size; anything else fails the session
    module's import with a ValueError naming the variable."""
    import os
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.run(
        [sys.executable, "-c", "import crawl4ai_llm_spark.session"],
        cwd=root,
        env={**os.environ, name: value},
        capture_output=True,
        text=True,
    )
    if ok:
        assert proc.returncode == 0, proc.stderr
    else:
        assert proc.returncode != 0
        assert f"ValueError: {name} must be" in proc.stderr

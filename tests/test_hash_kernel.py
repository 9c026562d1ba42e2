"""The numpy Murmur3 kernel (``hashing.spark_hash_strs``) against its
scalar reference (``spark_hash_str``) and against Spark's ``F.hash``; the
driver-side bucket rule (``spark_buckets``) against ``pmod(F.hash, n)``."""

from __future__ import annotations

import random

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from crawl4ai_llm_spark.frontier.hashing import (
    SPARK_SEED,
    spark_buckets,
    spark_hash_str,
    spark_hash_strs,
)

# 1-, 2-, 3- and 4-byte UTF-8 characters; "é", "\x80", "中" and the emoji
# encode to bytes >= 0x80 only, which Spark's tail rule sign-extends
ALPHABET = "aZ09/-é\x80\x7f中\U0001F600"


def _reference(values) -> np.ndarray:
    return np.array([spark_hash_str(v) for v in values], np.int32)


def _of_byte_length(rng: random.Random, n: int, high_tail: bool) -> str:
    """A string of exactly ``n`` UTF-8 bytes; with ``high_tail`` its last
    bytes are the two of "é" (0xC3 0xA9) wherever it has room."""
    k = n // 2 if high_tail else 0
    return "".join(rng.choice("abcxyz019") for _ in range(n - 2 * k)) + "é" * k


def test_every_length_and_tail():
    """Byte lengths 0-40 cover every block count and every tail length
    (0-3 leftover bytes), with ASCII tails and with tails of bytes >= 0x80."""
    rng = random.Random(1)
    values = [
        _of_byte_length(rng, n, high)
        for n in range(41)
        for high in (False, True)
        for _ in range(5)
    ]
    assert {len(v.encode()) % 4 for v in values} == {0, 1, 2, 3}
    assert {1, 2, 3} <= {len(b) % 4 for v in values if (b := v.encode()) and b[-1] >= 0x80}
    np.testing.assert_array_equal(spark_hash_strs(values), _reference(values))


def test_multibyte_utf8_and_empty():
    rng = random.Random(2)
    values = ["", "é", "中", "\U0001F600", "\x80", "a\x7fb"] + [
        "".join(rng.choice(ALPHABET) for _ in range(rng.randrange(41))) for _ in range(2000)
    ]
    got = spark_hash_strs(values)
    assert got.dtype == np.int32
    np.testing.assert_array_equal(got, _reference(values))
    np.testing.assert_array_equal(spark_hash_strs(pa.array(values)), got)
    assert spark_hash_strs([]).shape == (0,)


def test_sliced_chunked_and_large_arrays():
    """Arrow inputs with a non-zero offset (into the offsets buffer and
    into the data buffer), several chunks, large_string offsets, and
    nulls, which hash to the seed as F.hash leaves them."""
    rng = random.Random(3)
    values = [
        "".join(rng.choice(ALPHABET) for _ in range(rng.randrange(30))) for _ in range(500)
    ]
    want = _reference(values)
    arr = pa.array(values)
    np.testing.assert_array_equal(spark_hash_strs(arr.slice(37, 200)), want[37:237])
    chunked = pa.chunked_array([arr.slice(5, 40), arr.slice(300, 1), arr.slice(100, 150)])
    np.testing.assert_array_equal(
        spark_hash_strs(chunked), np.concatenate([want[5:45], want[300:301], want[100:250]])
    )
    large = pa.array(values, pa.large_string()).slice(11)
    np.testing.assert_array_equal(spark_hash_strs(large), want[11:])
    with_nulls = pa.array([values[0], None, values[1], None]).slice(1)
    np.testing.assert_array_equal(
        spark_hash_strs(with_nulls), [SPARK_SEED, want[1], SPARK_SEED]
    )


def test_rejects_non_strings():
    with pytest.raises(TypeError, match="strings"):
        spark_hash_strs(pa.array([1, 2]))


def test_bucket_rule_is_pmod_and_nulls_take_no_bucket():
    rng = random.Random(4)
    ids = [f"p{rng.randrange(10**7):07d}" for _ in range(300)] + ["", "é"]
    for n in (1, 4, 16, 7):
        want = [spark_hash_str(i) % n for i in ids]  # Python %: pmod
        assert spark_buckets(ids, n).tolist() == want
    assert spark_buckets(["a", None], 16).tolist() == [spark_hash_str("a") % 16, -1]


def test_kernel_and_bucket_rule_equal_spark(spark):
    rng = random.Random(5)
    values = ["", "a", "abcd", "abcde", "https://host1.example/p/12?a=1&b=2"] + [
        "".join(rng.choice(ALPHABET) for _ in range(rng.randrange(41))) for _ in range(300)
    ]
    rows = (
        spark.createDataFrame([(v,) for v in values], "s string")
        .select("s", F.hash("s").alias("h"), F.pmod(F.hash("s"), F.lit(16)).alias("b"))
        .collect()
    )
    got = {r["s"]: (r["h"], r["b"]) for r in rows}
    hashes, buckets = spark_hash_strs(values).tolist(), spark_buckets(values, 16).tolist()
    assert [got[v] for v in values] == list(zip(hashes, buckets))


def test_bucket_rule_equals_spark_on_both_sides_of_the_scalar_cut(spark, monkeypatch):
    """``spark_buckets`` hashes up to SCALAR_HASH_MAX values with the
    scalar ``spark_hash_str`` and more with the kernel; both equal
    ``pmod(F.hash, n)`` for strings of every byte length 0-9 (every tail
    length, twice), ASCII and not, and give -1 for a null."""
    from crawl4ai_llm_spark.frontier import hashing

    rng = random.Random(6)
    pool = [_of_byte_length(rng, n, high) for n in range(10) for high in (False, True)]
    pool += ["中", "\U0001F600x", "\x80\x80\x80", None]
    rows = (
        spark.createDataFrame([(v,) for v in pool if v is not None], "s string")
        .select("s", F.pmod(F.hash("s"), F.lit(16)).alias("b"))
        .collect()
    )
    want = {r["s"]: r["b"] for r in rows}
    want[None] = -1
    kernel_calls = []
    kernel = hashing.spark_hash_strs
    monkeypatch.setattr(
        hashing, "spark_hash_strs", lambda v: kernel_calls.append(len(v)) or kernel(v)
    )
    cut = hashing.SCALAR_HASH_MAX
    for size in (0, 1, 9, cut, cut + 1, 2 * cut + 5):
        values = [pool[(size + i) % len(pool)] for i in range(size)]
        arrow = pa.array(values, pa.string())
        for form in (values, arrow, pa.chunked_array([arrow])):
            kernel_calls.clear()
            got = spark_buckets(form, 16)
            assert got.dtype == np.int64
            assert got.tolist() == [want[v] for v in values], (size, type(form))
            assert bool(kernel_calls) == (size > cut), (size, kernel_calls)

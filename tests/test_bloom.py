"""Bloom-filter seen-set (operators/bloom — Bloom 1970 membership,
cross-engine md5 positions, 32-bit words)."""

import pyspark.sql.functions as F
import pytest

from anomalydetector_spark.operators.bloom import (
    bloom_contains,
    bloom_params,
    build_bloom,
)

M, K = 1 << 14, 7


def _urls(spark, lo, hi, name="url"):
    return spark.range(lo, hi).select(
        F.concat(F.lit("https://ex.com/p/"), F.col("id")).alias(name)
    )


def test_no_false_negatives(spark):
    seen = _urls(spark, 0, 500)
    bloom = build_bloom(seen, m_bits=M, n_hashes=K)
    got = {
        r.url: r.maybe_present
        for r in bloom_contains(seen, bloom, m_bits=M, n_hashes=K).collect()
    }
    assert len(got) == 500 and all(got.values())


def test_fp_rate_near_theoretical(spark):
    n = 500
    bloom = build_bloom(_urls(spark, 0, n), m_bits=M, n_hashes=K)
    fresh = bloom_contains(
        _urls(spark, 10_000, 12_000), bloom, m_bits=M, n_hashes=K
    )
    fp = fresh.filter("maybe_present").count() / 2_000
    theo = (1 - (1 - 1 / M) ** (K * n)) ** K
    assert fp <= max(4 * theo, 0.01)


def test_filter_new_keeps_only_unseen(spark):
    seen = _urls(spark, 0, 300)
    bloom = build_bloom(seen, m_bits=M, n_hashes=K)
    frontier = _urls(spark, 200, 600)  # 100 overlap + 300 new
    new = bloom_contains(frontier, bloom, m_bits=M, n_hashes=K).filter(
        ~F.col("maybe_present")
    )
    urls = {r.url for r in new.collect()}
    # nothing seen survives (no false negatives in the other direction)
    assert not any(int(u.rsplit("/", 1)[1]) < 300 for u in urls)
    # most new rows survive (only FP losses)
    assert len(urls) >= 290


def test_partition_and_duplicate_invariance(spark):
    seen = _urls(spark, 0, 200)
    b1 = build_bloom(seen.repartition(1), m_bits=M, n_hashes=K)
    b8 = build_bloom(
        seen.union(seen).repartition(8), m_bits=M, n_hashes=K
    )  # duplicates must not change the bitmap
    assert sorted(map(tuple, b1.collect())) == sorted(map(tuple, b8.collect()))


def test_null_keys_ignored(spark):
    seen = spark.createDataFrame([("a",), (None,)], "url string")
    bloom = build_bloom(seen, m_bits=M, n_hashes=K)
    got = bloom_contains(seen, bloom, m_bits=M, n_hashes=K).collect()
    assert {r.url for r in got} == {"a"}


def test_bloom_params_sizing():
    m, k = bloom_params(1_000_000, 0.01)
    assert m % 32 == 0
    assert 9_500_000 <= m <= 9_700_000  # ~9.59 bits/key
    assert k == 7
    with pytest.raises(ValueError):
        bloom_params(10, 1.5)
    with pytest.raises(ValueError):
        bloom_params(0, 0.01)  # empty seen-set must fail loudly
    with pytest.raises(ValueError):
        bloom_params(-5, 0.01)


def test_huge_m_bits_chunk_stays_long(spark):
    # m_bits > 2^36 makes chunk ids exceed int32 — the 10^12-key sizing
    # from the module docstring; chunks must be BIGINT end-to-end
    m = 1 << 40
    seen = _urls(spark, 0, 50)
    bloom = build_bloom(seen, m_bits=m, n_hashes=3)
    assert dict(bloom.dtypes)["chunk"] == "bigint"
    assert bloom.agg(F.max("chunk")).collect()[0][0] > (1 << 31)
    got = bloom_contains(seen, bloom, m_bits=m, n_hashes=3)
    assert got.filter("NOT maybe_present").count() == 0


def test_mask_never_overflows_sign(spark):
    # every mask is within 1..2^31 — a 32-bit word in a BIGINT; bit 63
    # is never touched so SQL engines that reject 1<<63 stay compatible
    bloom = build_bloom(_urls(spark, 0, 2_000), m_bits=M, n_hashes=K)
    mx = bloom.agg(F.max("bits"), F.min("bits")).collect()[0]
    assert 0 <= mx[1] and mx[0] <= (1 << 32) - 1

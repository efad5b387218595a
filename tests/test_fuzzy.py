"""Fuzzy key matching (operators/fuzzy): deletion-neighborhood blocking
must find EVERY Levenshtein-≤d pair (zero false negatives vs a
brute-force pure-python sweep) and the verify step every false
positive."""

from __future__ import annotations

import io
import random
import string
from contextlib import redirect_stdout

import pandas as pd
import pytest
from pyspark.sql import functions as F

from anomalydetector_spark.operators.fuzzy import (
    deletion_variants,
    fuzzy_key_pairs,
)


def lev(a, b):
    if len(a) < len(b):
        a, b = b, a
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                           prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def brute_pairs(keys, d):
    ks = sorted(set(keys))
    return sorted(
        (a, b, lev(a, b))
        for i, a in enumerate(ks)
        for b in ks[i + 1:]
        if lev(a, b) <= d
    )


def _mkkeys(n, rng):
    base = [
        "".join(rng.choices(string.ascii_lowercase, k=rng.randint(4, 12)))
        for _ in range(n)
    ]
    out = list(base)
    for k in base[: n // 2]:  # inject typo variants
        i = rng.randrange(len(k))
        op = rng.choice(["del", "sub", "ins"])
        if op == "del":
            out.append(k[:i] + k[i + 1:])
        elif op == "sub":
            out.append(k[:i] + rng.choice(string.ascii_lowercase) + k[i + 1:])
        else:
            out.append(k[:i] + rng.choice(string.ascii_lowercase) + k[i:])
    return out


@pytest.mark.parametrize("d", [1, 2])
def test_pairs_exact_vs_brute_force(spark, d):
    rng = random.Random(13 + d)
    keys = _mkkeys(120, rng)
    df = spark.createDataFrame(pd.DataFrame({"k": keys}))
    got = sorted(
        map(tuple, fuzzy_key_pairs(df, "k", max_dist=d).collect())
    )
    assert got == brute_pairs(keys, d)
    assert len(got) > 20  # the injected typos make this non-trivial


def test_pairs_exclude_long_and_null_keys(spark):
    keys = ["short", "shorx", "x" * 100, "x" * 100 + "y", None]
    df = spark.createDataFrame(
        pd.DataFrame({"k": keys}), "k string"
    )
    got = fuzzy_key_pairs(df, "k", max_dist=1, max_len=64).collect()
    assert [(r.key_a, r.key_b, r.distance) for r in got] == [
        ("short", "shorx", 1)
    ]


def test_partition_invariance(spark):
    rng = random.Random(7)
    keys = _mkkeys(200, rng)
    df = spark.createDataFrame(pd.DataFrame({"k": keys}))
    a = sorted(map(tuple,
                   fuzzy_key_pairs(df.repartition(1), "k").collect()))
    b = sorted(map(tuple,
                   fuzzy_key_pairs(df.repartition(16), "k").collect()))
    assert a == b


def test_plan_equi_join_only_no_python(spark):
    df = spark.createDataFrame(pd.DataFrame({"k": ["aa", "ab", "bb"]}))
    buf = io.StringIO()
    with redirect_stdout(buf):
        fuzzy_key_pairs(df, "k").explain("formatted")
    plan = buf.getvalue()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "EvalPython" not in plan


def test_variant_counts(spark):
    df = spark.createDataFrame(pd.DataFrame({"k": ["abcde"]}))
    n1, = df.select(
        F.size(deletion_variants(F.col("k"), 1)).alias("n")
    ).collect()
    n2, = df.select(
        F.size(deletion_variants(F.col("k"), 2)).alias("n")
    ).collect()
    assert n1.n == 6          # self + 5 deletions
    assert n2.n == 6 + 10     # + C(5,2) distinct double deletions

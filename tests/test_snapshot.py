"""Exact snapshot diff: churn verdicts, digest injectivity, dirty keys."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from anomalydetector_spark.operators.snapshot import (
    revalidation_keys,
    snapshot_churn_stats,
    snapshot_diff,
)


def _df(spark, rows):
    return spark.createDataFrame(rows, "url string, text string, lang string")


def test_statuses(spark):
    old = _df(spark, [("a", "t1", "en"), ("b", "t2", "en"), ("c", "t3", "de")])
    new = _df(spark, [("a", "t1", "en"), ("b", "t2-edit", "en"), ("d", "t4", "fr")])
    got = {
        r["url"]: r["status"]
        for r in snapshot_diff(old, new).collect()
    }
    assert got == {
        "a": "unchanged", "b": "changed", "c": "removed", "d": "added"
    }


def test_null_vs_empty_and_column_boundaries_are_changed(spark):
    # null != '' and ("ab","c") != ("a","bc"): the length-prefixed null
    # sentinel keeps the digest injective over the column tuple
    old = _df(spark, [("a", None, "en"), ("b", "ab", "c")])
    new = _df(spark, [("a", "", "en"), ("b", "a", "bc")])
    got = {r["url"]: r["status"] for r in snapshot_diff(old, new).collect()}
    assert got == {"a": "changed", "b": "changed"}


def test_compare_cols_subset(spark):
    old = _df(spark, [("a", "t", "en")])
    new = _df(spark, [("a", "t", "de")])
    only_text = snapshot_diff(old, new, compare_cols=["text"]).first()
    assert only_text["status"] == "unchanged"
    full = snapshot_diff(old, new).first()
    assert full["status"] == "changed"


def test_duplicate_keys_stay_single_row(spark):
    old = _df(spark, [("a", "t1", "en"), ("a", "t1", "en")])
    new = _df(spark, [("a", "t1", "en")])
    out = snapshot_diff(old, new).collect()
    assert len(out) == 1 and out[0]["status"] == "unchanged"


def test_churn_stats_and_revalidation(spark):
    old = _df(spark, [("a", "1", "x"), ("b", "2", "x"), ("c", "3", "x"),
                      ("d", "4", "x")])
    new = _df(spark, [("a", "1", "x"), ("b", "2!", "x"), ("d", "4", "x"),
                      ("e", "5", "x")])
    diff = snapshot_diff(old, new)
    s = snapshot_churn_stats(diff).first()
    assert (s["n_added"], s["n_removed"], s["n_changed"], s["n_unchanged"]) == (
        1, 1, 1, 2
    )
    assert s["added_rate"] == 0.25 and s["changed_rate"] == 0.25
    keys = sorted(r["url"] for r in revalidation_keys(diff).collect())
    assert keys == ["b", "e"]


def test_diff_parity_on_testdata(spark):
    """The driver-query shape at sf0.001: deterministic perturbation of
    documents, statuses cross-checked against a pandas recomputation."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    old = docs.select("doc_id", "text", "lang")
    new = (
        docs.filter(F.col("doc_id") % 17 != 0)
        .select(
            "doc_id",
            F.when(
                F.col("doc_id") % 13 == 0, F.concat(F.col("text"), F.lit(" v2"))
            ).otherwise(F.col("text")).alias("text"),
            "lang",
        )
        .unionByName(
            docs.filter(F.col("doc_id") % 23 == 0).select(
                (F.col("doc_id") + 100000).alias("doc_id"), "text", "lang"
            )
        )
    )
    got = (
        snapshot_diff(old, new, key_col="doc_id")
        .toPandas()
        .set_index("doc_id")["status"]
        .sort_index()
    )
    pdf = docs.select("doc_id").toPandas()
    exp = {}
    for i in pdf["doc_id"]:
        if i % 17 == 0:
            exp[i] = "removed"
        elif i % 13 == 0:
            exp[i] = "changed"
        else:
            exp[i] = "unchanged"
        if i % 23 == 0:
            exp[i + 100000] = "added"
    exp = pd.Series(exp).sort_index()
    assert got.equals(exp)


def test_snapshot_diff_cli(spark, tmp_path, capsys):
    from anomalydetector_spark import cli

    old = _df(spark, [("a", "1", "x"), ("b", "2", "x"), ("c", "3", "x")])
    new = _df(spark, [("a", "1", "x"), ("b", "2!", "x"), ("d", "4", "x")])
    old.write.mode("overwrite").parquet(str(tmp_path / "old"))
    new.write.mode("overwrite").parquet(str(tmp_path / "new"))
    out = str(tmp_path / "out")
    cli.main([
        "snapshot-diff", "--old-path", str(tmp_path / "old"),
        "--new-path", str(tmp_path / "new"),
        "--output-path", out, "--key-column", "url",
    ])
    msg = capsys.readouterr().out
    assert "+1 added, -1 removed, ~1 changed, 1 unchanged" in msg
    got = {
        r["url"]: r["status"]
        for r in spark.read.parquet(out + "/diff").collect()
    }
    assert got == {"a": "unchanged", "b": "changed", "c": "removed",
                   "d": "added"}
    reval = sorted(
        r["url"] for r in spark.read.parquet(out + "/revalidate").collect()
    )
    assert reval == ["b", "d"]


def test_binary_columns_compared_bytewise(spark):
    """html-style binary columns must compare on raw bytes: two blobs
    that collide after a lossy UTF-8 reinterpretation (invalid
    sequences) still diff as changed."""
    schema = "url string, html binary"
    old = spark.createDataFrame([("a", bytes([0xFF, 0x01])),
                                 ("b", bytes([1, 2, 3]))], schema)
    new = spark.createDataFrame([("a", bytes([0xFE, 0x02])),
                                 ("b", bytes([1, 2, 3]))], schema)
    got = {r["url"]: r["status"] for r in snapshot_diff(old, new).collect()}
    assert got == {"a": "changed", "b": "unchanged"}


def test_churn_stats_empty_new_snapshot(spark):
    """Everything-removed: counts stay exact, rates are null (no defined
    denominator) instead of an ANSI DIVIDE_BY_ZERO crash."""
    old = _df(spark, [("a", "1", "x"), ("b", "2", "x")])
    new = spark.createDataFrame([], old.schema)
    s = snapshot_churn_stats(snapshot_diff(old, new)).first()
    assert (s["n_added"], s["n_removed"], s["n_changed"], s["n_unchanged"]) == (
        0, 2, 0, 0
    )
    assert s["added_rate"] is None and s["changed_rate"] is None


def test_random_diff_parity_vs_direct_comparison(spark):
    """200 random keys with random (text, lang) tuples on both sides —
    incl. nulls, empties, and boundary-shifted strings — must classify
    exactly as a direct value comparison (no digest collisions/losses)."""
    import numpy as np

    rng = np.random.default_rng(11)
    vals = [None, "", "a", "ab", "b", "ab:c", "a:bc", "x" * 50]

    def snap():
        rows = {}
        for k in range(200):
            if rng.random() < 0.85:  # 15% of keys absent per side
                rows[f"k{k}"] = (
                    vals[rng.integers(len(vals))],
                    vals[rng.integers(len(vals))],
                )
        return rows

    o, n = snap(), snap()
    old = _df(spark, [(k, t, l) for k, (t, l) in o.items()])
    new = _df(spark, [(k, t, l) for k, (t, l) in n.items()])
    got = {r["url"]: r["status"] for r in snapshot_diff(old, new).collect()}
    exp = {}
    for k in set(o) | set(n):
        if k not in o:
            exp[k] = "added"
        elif k not in n:
            exp[k] = "removed"
        else:
            exp[k] = "unchanged" if o[k] == n[k] else "changed"
    assert got == exp


def test_partition_digests_order_insensitive_and_dup_sensitive(spark):
    from anomalydetector_spark.operators.snapshot import (
        changed_partitions,
        partition_digests,
    )

    schema = "part string, url string, text string"
    a = spark.createDataFrame(
        [("p1", "a", "t1"), ("p1", "b", "t2"), ("p2", "c", "t3")], schema
    )
    # same rows, different order / different file layout
    b = spark.createDataFrame(
        [("p2", "c", "t3"), ("p1", "b", "t2"), ("p1", "a", "t1")], schema
    ).repartition(7)
    da, db = partition_digests(a, "part"), partition_digests(b, "part")
    assert {r["partition"]: r["status"] for r in
            changed_partitions(da, db).collect()} == {
        "p1": "unchanged", "p2": "unchanged"
    }

    # XOR would cancel a duplicated row pair; the sum+count digest must not
    dup = spark.createDataFrame(
        [("p1", "a", "t1"), ("p1", "a", "t1"), ("p1", "b", "t2"),
         ("p1", "b", "t2"), ("p2", "c", "t3")], schema
    )
    got = {r["partition"]: r["status"] for r in
           changed_partitions(da, partition_digests(dup, "part")).collect()}
    assert got == {"p1": "changed", "p2": "unchanged"}

    # content edit in one partition; add/remove partitions
    c = spark.createDataFrame(
        [("p1", "a", "t1-EDIT"), ("p1", "b", "t2"), ("p3", "d", "t4")], schema
    )
    got = {r["partition"]: r["status"] for r in
           changed_partitions(da, partition_digests(c, "part")).collect()}
    assert got == {"p1": "changed", "p2": "removed", "p3": "added"}


def test_random_partition_digest_parity_vs_multiset_comparison(spark):
    """Random multiset edits per partition must classify exactly as a
    direct multiset comparison of the rows: a byte flip in a binary
    column, a timestamp moved by 1 µs, NULL <-> '', a value swapped
    between two string columns, a duplicated row and a changed map value
    all flip their partition; reordering and repartitioning flip none.
    A map compare column must hash without raising."""
    import datetime as dt
    from collections import Counter

    import numpy as np

    from anomalydetector_spark.operators.snapshot import (
        changed_partitions,
        partition_digests,
    )

    schema = (
        "part string, s1 string, s2 string, b binary, ts timestamp, "
        "m map<string,int>"
    )
    strs = [None, "", "a", "b", "ab", "ab:c", "x" * 40]
    t0 = dt.datetime(2024, 3, 1, 12, 0, 0)

    def edit(rows, kind, rng):
        i = int(rng.integers(len(rows)))
        part, s1, s2, b, ts, m = rows[i]
        if kind == "byte_flip":
            b = bytearray(b or b"\x00")
            j = int(rng.integers(len(b)))
            b[j] ^= 1 << int(rng.integers(8))
            b = bytes(b)
        elif kind == "ts_plus_1us":
            ts = (ts or t0) + dt.timedelta(microseconds=1)
        elif kind == "null_empty":
            s1 = "" if s1 is None else None if s1 == "" else None
        elif kind == "swap_columns":
            s1, s2 = (s2, s1) if s1 != s2 else ("a", "b")
        elif kind == "dup_row":
            return rows + [rows[i]]
        elif kind == "map_value":
            m = dict(m or {"k": 0})
            k = sorted(m)[0]
            m[k] += 1
        return rows[:i] + [(part, s1, s2, b, ts, m)] + rows[i + 1:]

    def key(r):
        m = None if r[5] is None else tuple(r[5].items())
        return (r[1], r[2], None if r[3] is None else bytes(r[3]), r[4], m)

    kinds = [
        "byte_flip", "ts_plus_1us", "null_empty", "swap_columns",
        "dup_row", "map_value", "reorder",
    ]
    for seed in (3, 17):
        rng = np.random.default_rng(seed)
        old, new = [], []
        for p in range(2 * len(kinds) + 1):
            rows = []
            for _ in range(int(rng.integers(2, 7))):
                rows.append((
                    f"p{p}",
                    strs[int(rng.integers(len(strs)))],
                    strs[int(rng.integers(len(strs)))],
                    None if rng.random() < 0.2
                    else bytes(rng.integers(0, 256, 3).tolist()),
                    None if rng.random() < 0.2
                    else t0 + dt.timedelta(seconds=int(rng.integers(1000))),
                    None if rng.random() < 0.2
                    else {"k": int(rng.integers(5)), "j": 1},
                ))
            old += rows
            if p == 2 * len(kinds):
                continue  # removed partition
            new += edit(rows, kinds[p % len(kinds)], rng)
        new += [("added", "a", "b", b"x", t0, {"k": 1})]
        new = [new[i] for i in rng.permutation(len(new))]

        got = {
            r["partition"]: r["status"]
            for r in changed_partitions(
                partition_digests(spark.createDataFrame(old, schema), "part"),
                partition_digests(
                    spark.createDataFrame(new, schema).repartition(5), "part"
                ),
            ).collect()
        }
        o = {}
        for r in old:
            o.setdefault(r[0], Counter())[key(r)] += 1
        n = {}
        for r in new:
            n.setdefault(r[0], Counter())[key(r)] += 1
        exp = {
            p: "added" if p not in o else "removed" if p not in n
            else "unchanged" if o[p] == n[p] else "changed"
            for p in set(o) | set(n)
        }
        assert got == exp
        # every edit kind flipped its partitions, reorder flipped none
        for p in range(2 * len(kinds)):
            want = "unchanged" if kinds[p % len(kinds)] == "reorder" else "changed"
            assert got[f"p{p}"] == want, (seed, p, kinds[p % len(kinds)])


def test_partition_digests_multicol_null_and_delimiter_safe(spark):
    """Multi-column partition tuples must stay distinct under NULLs and
    delimiter-looking values: ('a', NULL) vs (NULL, 'a') are different
    partitions, and a value containing an embedded separator must not
    collapse with a two-part split of itself."""
    from anomalydetector_spark.operators.snapshot import (
        changed_partitions,
        partition_digests,
    )

    schema = "p1 string, p2 string, url string, text string"
    old = spark.createDataFrame(
        [("a", None, "u1", "t1"), (None, "a", "u2", "t2"),
         ("x\x1fy", "z", "u3", "t3"), ("x", "y\x1fz", "u4", "t4")], schema
    )
    da = partition_digests(old, ["p1", "p2"])
    # 4 DISTINCT partitions — the old concat_ws key collapsed the first
    # pair (null-skip) and the second pair (unescaped delimiter)
    assert da.count() == 4
    # same content in a second snapshot: every partition must match
    # across the full-outer join (no phantom added/removed rows)
    got = {r["status"] for r in
           changed_partitions(da, partition_digests(old, ["p1", "p2"])).collect()}
    assert got == {"unchanged"}
    # edit one null-keyed partition's content: only that one flips
    new = spark.createDataFrame(
        [("a", None, "u1", "t1-EDIT"), (None, "a", "u2", "t2"),
         ("x\x1fy", "z", "u3", "t3"), ("x", "y\x1fz", "u4", "t4")], schema
    )
    statuses = sorted(
        r["status"] for r in
        changed_partitions(da, partition_digests(new, ["p1", "p2"])).collect()
    )
    assert statuses == ["changed", "unchanged", "unchanged", "unchanged"]


def test_partition_digests_single_col_null_sentinel(spark):
    from anomalydetector_spark.operators.snapshot import (
        changed_partitions,
        partition_digests,
    )

    schema = "part string, url string, text string"
    old = spark.createDataFrame([(None, "a", "t1"), ("p1", "b", "t2")], schema)
    new = spark.createDataFrame([(None, "a", "t1-X"), ("p1", "b", "t2")], schema)
    got = {r["partition"]: r["status"] for r in changed_partitions(
        partition_digests(old, "part"), partition_digests(new, "part")
    ).collect()}
    # the NULL partition joins across snapshots (sentinel key), is seen
    # as changed — not as a phantom added+removed pair
    assert got == {"<NULL>": "changed", "p1": "unchanged"}


def test_snapshot_diff_cli_partition_mode(spark, tmp_path, capsys):
    from anomalydetector_spark import cli

    schema = "src string, url string, text string"
    old = spark.createDataFrame(
        [("p1", "a", "t1"), ("p1", "b", "t2"), ("p2", "c", "t3")], schema
    )
    new = spark.createDataFrame(
        [("p1", "a", "t1"), ("p1", "b", "t2-EDIT"), ("p3", "d", "t4")], schema
    )
    old.write.parquet(str(tmp_path / "old"))
    new.write.parquet(str(tmp_path / "new"))
    out = str(tmp_path / "out")
    cli.main([
        "snapshot-diff", "--old-path", str(tmp_path / "old"),
        "--new-path", str(tmp_path / "new"), "--output-path", out,
        "--partition-column", "src",
    ])
    assert "1 added, 1 removed, 1 changed, 0 unchanged" in capsys.readouterr().out
    got = {r["partition"]: r["status"]
           for r in spark.read.parquet(out + "/partitions").collect()}
    assert got == {"p1": "changed", "p2": "removed", "p3": "added"}

"""Local stand-in for the driver's correctness gate: run every
``__spark_entry__.queries()`` entry against its ``oracle_sql()`` DuckDB
twin at sf0.01 and compare row count, column names, and an
order-insensitive value hash.

The driver's comparator is type-sensitive: both sides travel through
Arrow into pandas and cells are stringified at full precision, so a
DuckDB HUGEINT that surfaces as float64 ("3.0") mismatches a Spark
BIGINT ("3") even when values are equal.  This checker mirrors that:
DuckDB results are fetched via ``.arrow().to_pandas()`` and floats are
hashed at ``repr`` precision (no %.6g smoothing).

Usage: python tools/check_oracle_parity.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import math
import os
import sys

import duckdb
import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def norm_cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, (bool, np.bool_)):
        return str(bool(v)).lower()
    if isinstance(v, (float, np.floating)):
        v = float(v)
        if math.isnan(v):
            return "nan"
        return repr(v)
    if isinstance(v, (int, np.integer)):
        return str(int(v))
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(norm_cell(x) for x in v) + "]"
    return str(v)


def frame_hash(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted(
        "|".join(norm_cell(r[i]) for i in order) for r in rows
    )
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entry
    from anomalydetector_spark.session import get_spark

    spark = get_spark("oracle-parity", cores=8)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"create view {t} as select * from '{sf_dir}/{t}.parquet'"
        )

    qs = entry.queries()
    oracles = entry.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir)
            spdf = sdf.toPandas()
            scols = list(spdf.columns)
            srows = [tuple(r) for r in spdf.itertuples(index=False, name=None)]
        except Exception as e:
            print(f"{name:34s} SPARK ERROR: {str(e)[:200]}")
            failures.append(name)
            continue
        if name not in oracles:
            print(f"{name:34s} rows={len(srows):6d}  (no oracle — rows-only)")
            continue
        try:
            opdf = con.execute(oracles[name]).arrow().to_pandas()
            ocols = list(opdf.columns)
            orows = [tuple(r) for r in opdf.itertuples(index=False, name=None)]
        except Exception as e:
            print(f"{name:34s} ORACLE SQL ERROR: {e}")
            failures.append(name)
            continue
        sh, oh = frame_hash(scols, srows), frame_hash(ocols, orows)
        ok = (
            len(srows) == len(orows)
            and sorted(scols) == sorted(ocols)
            and sh == oh
        )
        status = "OK " if ok else "MISMATCH"
        print(
            f"{name:34s} {status} spark={len(srows)} duck={len(orows)} "
            f"cols {'=' if sorted(scols)==sorted(ocols) else sorted(scols)==sorted(ocols) and '' or 'DIFF'} "
            f"hash {'=' if sh==oh else f'{sh}!={oh}'}"
        )
        if not ok:
            failures.append(name)
            if sorted(scols) != sorted(ocols):
                print(f"    spark cols: {sorted(scols)}\n    duck  cols: {sorted(ocols)}")
            else:
                # show a few differing lines
                import itertools
                sset = {tuple(norm_cell(r[i]) for i in sorted(range(len(scols)), key=lambda i: scols[i])) for r in srows}
                oset = {tuple(norm_cell(r[i]) for i in sorted(range(len(ocols)), key=lambda i: ocols[i])) for r in orows}
                for x in itertools.islice(sset - oset, 3):
                    print("    spark-only:", x)
                for x in itertools.islice(oset - sset, 3):
                    print("    duck-only :", x)
    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()

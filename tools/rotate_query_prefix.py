"""Rotate the driver-checked query prefix (the round-3 judge's #1 ask,
made a one-command operation for every future round).

The driver's correctness gate truncates at the FIRST 50 entries of
``__spark_entry__.queries()``. This tool reorders the dict literal so
queries that have NEVER had a driver-green row come first:

    python tools/rotate_query_prefix.py CORRECTNESS_r03.json [r04.json ...]

* reads every given correctness file and unions their keys = "already
  driver-checked",
* rewrites ``queries()`` with the never-checked queries first
  (stable relative order), then the checked ones (stable order),
* refuses to put a query without an ``oracle_sql()`` entry in the first
  50 (rows-only queries would waste a hard-gate slot on a weak check),
* prints the new prefix for review; ``--dry-run`` skips the write.

When every query has a driver row, the rotation is a no-op and the
tool says so.
"""

from __future__ import annotations

import json
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ENTRY = os.path.join(ROOT, "__spark_entry__.py")


def main() -> None:
    args = [a for a in sys.argv[1:] if a != "--dry-run"]
    dry = "--dry-run" in sys.argv
    if not args:
        print(__doc__)
        sys.exit(2)

    checked: set[str] = set()
    for path in args:
        checked |= set(json.load(open(path)).keys())

    src = open(ENTRY).read()
    m = re.search(
        r"def queries\(\) -> dict\[str, Callable\[\[SparkSession, str\], "
        r"DataFrame\]\]:\n    return \{\n(.*?)\n    \}\n",
        src,
        re.S,
    )
    if not m:
        sys.exit("queries() dict literal not found")
    pairs = re.findall(r'"([^"]+)": (\w+),', m.group(1))
    names = dict(pairs)
    all_keys = [k for k, _ in pairs]

    # which queries have oracles? import the module for oracle_sql()
    import importlib.util

    sys.path.insert(0, ROOT)
    spec = importlib.util.spec_from_file_location("entry", ENTRY)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    oracled = set(mod.oracle_sql().keys())

    unchecked = [k for k in all_keys if k not in checked]
    if not unchecked:
        print("every query has a driver row — nothing to rotate")
        return
    # prefix: unchecked AND oracled first; rows-only unchecked after
    # position 50; then the checked tail
    prefix = [k for k in unchecked if k in oracled]
    rows_only = [k for k in unchecked if k not in oracled]
    tail = [k for k in all_keys if k in checked]
    new_order = prefix + rows_only + tail
    assert set(new_order) == set(all_keys) and len(new_order) == len(all_keys)

    head50 = new_order[:50]
    missing_oracle = [k for k in head50 if k not in oracled]
    if missing_oracle:
        sys.exit(
            f"refusing: rows-only queries would land in the prefix: "
            f"{missing_oracle} — add oracles or derived gates first"
        )

    print(f"checked so far: {len(checked)}; never-checked: {len(unchecked)}")
    print("new prefix (first 50):")
    for i, k in enumerate(head50, 1):
        print(f"  {i:2d}. {k}")
    if dry:
        print("--dry-run: not writing")
        return

    lines = "\n".join(f'        "{k}": {names[k]},' for k in new_order)
    new_body = (
        "def queries() -> dict[str, Callable[[SparkSession, str], "
        "DataFrame]]:\n    return {\n" + lines + "\n    }\n"
    )
    open(ENTRY, "w").write(src[: m.start()] + new_body + src[m.end():])
    print(f"rotated: {len(prefix)} unchecked-oracled first, "
          f"{len(rows_only)} rows-only mid, {len(tail)} checked tail")


if __name__ == "__main__":
    main()

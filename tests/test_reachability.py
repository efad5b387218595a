"""No package code that only a test reaches.

Builds the transitive closure of the package's top-level functions and
classes reached from the program's entry points, and fails on any one
outside it that ``ALLOWED`` does not name (or on an ``ALLOWED`` name that
no longer exists). Pure ``ast`` and a name scan: no Spark, and the package
is never imported.

- Roots: every ``tools/*.py`` and ``perfbench/*.py`` file,
  ``__spark_entry__.py``, ``bench.py``, every definition in ``cli.py``, and package
  module-level code other than ``import`` statements, so a re-export alone
  is not a caller.
- A reached definition reaches every definition named by an identifier in
  its source text, docstrings included, so a name matches a definition of
  that name in any module.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PKG = "anomalydetector_spark"
IDENT = re.compile(r"[A-Za-z_]\w*")

# Unreached definitions that stay, each with its reason.
ALLOWED = {
    # Paper-workflow coverage (SURVEY IDs; COVERAGE.md rows 14, 28, 62, 85).
    "operators.checks.check_strictly_ascending": "P5/P6: strictly ascending timestamps",
    "operators.evaluate.dense_label_grid": "W17/A8: dense per-timestamp label grid",
    "sources.harness.read_pickle_series": "S4: the reference harness's pickled series",
    # Fallback quantile path of a bounded drift pass (ROADMAP item 3, KLL±).
    **{
        f"plans.sketches.{name}": "KLL sketches: ROADMAP item 3's fallback quantile path"
        for name in (
            "distinct_by_partition",
            "global_distinct_estimate",
            "global_quantiles",
            "partition_quantile_sketches",
            "partition_sketches",
            "partition_theta_sketches",
            "read_sketches",
            "resume_sketches",
            "sketches_to_manifest_rows",
            "snapshot_churn",
        )
    },
    # Test support: fixture builders and plan bounds the tests share.
    "operators.multimodal.synth_media": "test support: synthetic media table",
    "sources.warc.warc_record_bytes": "test support: WARC record bytes",
    "operators.layout.zorder_key_np": "test support: numpy Z-order reference",
    "operators.codecs.encode_ppm": "test support: PPM payloads",
    "operators.quarantine.split_counts": "test support: quarantine split totals",
    "plans.audit.assert_global_windows_bounded": "test support: global-window plan bound",
    # The documented inverse of the suite file format.
    "plans.spec.suite_to_dict": "suite file format inverse (spec round-trip tests)",
}


def _module(path: Path) -> str:
    parts = list(path.relative_to(REPO / PKG).with_suffix("").parts)
    if parts[-1] == "__init__":
        parts.pop()
    return ".".join(parts)


def _source(lines: list[str], node: ast.stmt) -> str:
    first = min([node.lineno, *(d.lineno for d in getattr(node, "decorator_list", ()))])
    return "".join(lines[first - 1 : node.end_lineno])


def _scan():
    """``(definitions, reached)``: definition name -> source text of every
    package function and class, and the names the closure reaches."""
    defs: dict[str, str] = {}
    root_text = []
    for path in sorted((REPO / PKG).rglob("*.py")):
        mod = _module(path)
        lines = path.read_text().splitlines(keepends=True)
        for node in ast.parse("".join(lines)).body:
            text = _source(lines, node)
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                defs[f"{mod}.{node.name}"] = text
                if mod == "cli":
                    root_text.append(text)
            elif not isinstance(node, (ast.Import, ast.ImportFrom)):
                root_text.append(text)
    for pattern in ("__spark_entry__.py", "bench.py", "tools/*.py", "perfbench/*.py"):
        root_text += [p.read_text() for p in sorted(REPO.glob(pattern))]

    by_name: dict[str, list[str]] = {}
    for key in defs:
        by_name.setdefault(key.rsplit(".", 1)[1], []).append(key)
    reached: set[str] = set()
    todo = set(IDENT.findall("\n".join(root_text)))
    seen_names: set[str] = set()
    while todo:
        name = todo.pop()
        seen_names.add(name)
        for key in by_name.get(name, ()):
            if key not in reached:
                reached.add(key)
                todo |= set(IDENT.findall(defs[key])) - seen_names
    return defs, reached


def test_every_definition_is_reached_or_allowlisted():
    defs, reached = _scan()
    only_tests = sorted(set(defs) - reached - set(ALLOWED))
    assert not only_tests, (
        "no entry point reaches these; delete them or allowlist one with its "
        "reason:\n  " + "\n  ".join(only_tests)
    )


def test_allowlist_names_existing_unreached_definitions():
    defs, reached = _scan()
    assert not sorted(set(ALLOWED) - set(defs)), "allowlisted names that no longer exist"
    assert not sorted(set(ALLOWED) & reached), "allowlisted names that are now reached"

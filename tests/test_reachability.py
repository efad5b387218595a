"""No package code that only a test reaches.

Builds the transitive closure of the package's top-level functions and
classes reached from the program's entry points, and fails on any one
outside it that ``ALLOWED`` does not name (or on an ``ALLOWED`` name that
no longer exists). Pure ``ast``: no Spark, and the package is never
imported.

- Roots: every ``tools/*.py`` and ``perfbench/*.py`` file,
  ``__spark_entry__.py``, ``bench.py``, every definition in ``cli.py``, and package
  module-level code other than ``import`` statements, so a re-export alone
  is not a caller.
- A reached definition reaches what the names in its code resolve to in
  its own module: a definition of that module, or what an ``import``
  anywhere in the file binds the name to, followed through re-exports and
  attribute access on an imported module (``C.check_x``). Docstrings,
  comments and a same-named definition in another module credit nothing.
"""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PKG = "anomalydetector_spark"

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
    "datagen.truth": "test support: the synthetic pages' injected anomalies",
    # The documented inverse of the suite file format.
    "plans.spec.suite_to_dict": "suite file format inverse (spec round-trip tests)",
    # The check suite's Python vocabulary: one constructor per JSON kind
    # (the CLI builds the same specs from JSON through specs_from_json).
    **{
        f"plans.suite.{name}": "check-suite vocabulary: the Python twin of a JSON kind"
        for name in (
            "ascending",
            "benford",
            "column_presence",
            "robust_outliers",
        )
    },
    # Reference-workflow coverage beside S4 and the kernel parity set.
    "kernel.boundary.calculate_boundary_unit_last": "reference kernel API: last-point boundary (golden fixtures)",
    "sources.harness.read_json_windows": "S4: the reference harness's JSON windows",
    "operators.srcnn_features.write_reference_train_json": "SR-CNN: the reference trainer's JSON input",
    # Documented operators that no CLI command or `__spark_entry__` query
    # calls yet.
    "manifest.pending_partitions": "resume: the partitions a manifest has not finished (README)",
    "operators.components.assign_components": "component ids of every vertex, singletons included",
    "operators.frequency.candidate_key_counts": "exact counts of heavy-hitter candidates",
    "operators.layout.compute_bounds": "Z-order layout: per-column bounds",
    "operators.layout.write_clustered": "Z-order layout: the clustered write",
    "operators.patterns.suggest_value_patterns": "pattern profiling: suggested allow-list",
    "operators.robots.parse_sitemaps": "robots.txt: sitemap URLs",
}


def _module(path: Path) -> str:
    parts = list(path.relative_to(REPO / PKG).with_suffix("").parts)
    if parts[-1] == "__init__":
        parts.pop()
    return ".".join(parts)


def _bindings(tree: ast.AST, modules: set[str]) -> dict[str, tuple[str, str]]:
    """What every package import in ``tree`` (function-level ones too)
    binds: name -> ``("module", mod)`` or ``("name", "mod.attr")``."""
    out: dict[str, tuple[str, str]] = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.module:
            if node.module != PKG and not node.module.startswith(PKG + "."):
                continue
            mod = node.module[len(PKG) + 1 :]
            for a in node.names:
                sub = f"{mod}.{a.name}".lstrip(".")
                target = ("module", sub) if sub in modules else ("name", sub)
                out[a.asname or a.name] = target
        elif isinstance(node, ast.Import):
            for a in node.names:
                if a.name != PKG and not a.name.startswith(PKG + "."):
                    continue
                if a.asname:
                    out[a.asname] = ("module", a.name[len(PKG) + 1 :])
                else:
                    out[PKG] = ("module", "")
    return out


def _scan():
    """``(definitions, reached)``: the name of every package function and
    class, and those the closure reaches."""
    modules = {_module(p) for p in (REPO / PKG).rglob("*.py")}
    defs: dict[str, ast.AST] = {}
    def_module: dict[str, str] = {}
    bindings: dict[str, dict[str, tuple[str, str]]] = {}
    roots: list[tuple[str, ast.AST]] = []
    for path in sorted((REPO / PKG).rglob("*.py")):
        mod = _module(path)
        tree = ast.parse(path.read_text())
        bindings[mod] = _bindings(tree, modules)
        for node in tree.body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                key = f"{mod}.{node.name}".lstrip(".")
                defs[key], def_module[key] = node, mod
                if mod == "cli":
                    roots.append((mod, node))
            elif not isinstance(node, (ast.Import, ast.ImportFrom)):
                roots.append((mod, node))
    for pattern in ("__spark_entry__.py", "bench.py", "tools/*.py", "perfbench/*.py"):
        for path in sorted(REPO.glob(pattern)):
            tree = ast.parse(path.read_text())
            bindings[str(path)] = _bindings(tree, modules)
            roots.append((str(path), tree))

    def in_module(mod: str, name: str, seen: frozenset = frozenset()):
        """What ``mod.name`` is: a definition key, ``("module", m)``, or
        None; re-exports are followed."""
        key = f"{mod}.{name}".lstrip(".")
        if key in defs:
            return key
        if key in modules:
            return ("module", key)
        bound = bindings.get(mod, {}).get(name)
        if bound is None or key in seen:
            return None
        return resolve(bound, seen | {key})

    def resolve(bound: tuple[str, str], seen: frozenset = frozenset()):
        kind, target = bound
        if kind == "module":
            return bound
        mod, _, name = target.rpartition(".")
        return in_module(mod, name, seen)

    def lookup(scope: str, node: ast.AST):
        """What the Name / Attribute chain ``node`` resolves to in the
        module (or root file) ``scope``."""
        if isinstance(node, ast.Name):
            key = f"{scope}.{node.id}".lstrip(".")
            if key in defs:
                return key
            bound = bindings[scope].get(node.id)
            return resolve(bound) if bound else None
        if isinstance(node, ast.Attribute):
            base = lookup(scope, node.value)
            if isinstance(base, tuple):
                return in_module(base[1], node.attr)
        return None

    reached: set[str] = set()
    todo = list(roots)
    while todo:
        scope, tree = todo.pop()
        for node in ast.walk(tree):
            if isinstance(node, (ast.Name, ast.Attribute)):
                key = lookup(scope, node)
                if isinstance(key, str) and key not in reached:
                    reached.add(key)
                    todo.append((def_module[key], defs[key]))
    return set(defs), reached


def test_every_definition_is_reached_or_allowlisted():
    defs, reached = _scan()
    only_tests = sorted(defs - reached - set(ALLOWED))
    assert not only_tests, (
        "no entry point reaches these; delete them or allowlist one with its "
        "reason:\n  " + "\n  ".join(only_tests)
    )


def test_allowlist_names_existing_unreached_definitions():
    defs, reached = _scan()
    assert not sorted(set(ALLOWED) - defs), "allowlisted names that no longer exist"
    assert not sorted(set(ALLOWED) & reached), "allowlisted names that are now reached"

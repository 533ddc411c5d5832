"""Architecture import-layering rules — the engine's analogue of the
reference's tier-1 suite (tests/test_architecture_imports.py:76
test_layer_boundaries: AST walk over every source file, dependencies may
only point inward).

Layer order (inward = allowed):

    geometry            pure numpy kernels — NO pyspark, NO intra-package
    session             session factory + the one materialization policy
                        (materialize) — NO intra-package imports
    index               cell/skew column algebra — geometry, session
    functions           scalar/decode library — geometry, index
    corpus              synthetic data — geometry and functions (the
                        canonical JSON serializer) at module level
                        (the sources.dxf_files seam is a
                        sanctioned FUNCTION-LEVEL lazy import: dxf_files
                        imports corpus for the span schema, so the
                        reverse edge must stay deferred)
    operators           corpus, functions, geometry, index, session
    sources             + exactly operators.merge_modes (the snapshot
                        store applies the merge algebra)
    plans               sources and inward
    streaming           operators, sources and inward

Nothing in the package may import streaming or plans from a lower layer,
import tests/scripts/__spark_entry__, or make geometry Spark-dependent —
geometry doubles as the oracle-replica kernel library, so it must stay
importable without a JVM.
"""

import ast
import os

import pytest

PKG = "dxf_postgis_converter_spark"
ROOT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), PKG)

# module-level (eager) imports allowed per layer; "" = top-level modules
_ALLOWED = {
    "geometry": set(),
    "index": {"geometry", "session"},
    "functions": {"geometry", "index"},
    "corpus.py": {"functions", "geometry"},
    "replicas.py": set(),  # pure oracle replicas — stdlib/numpy only
    "session.py": set(),
    "operators": {"corpus", "functions", "geometry", "index", "session"},
    "sources": {"corpus", "functions", "geometry", "index", "operators"},
    "plans": {"sources", "corpus", "functions", "geometry", "index"},
    "streaming": {"operators", "sources", "corpus", "functions",
                  "geometry", "index"},
    "__init__.py": set(),
}

# the single sanctioned upward edge: sources → operators is ONLY the
# merge algebra (snapshot_store applies ImportMode)
_SOURCES_OPERATOR_MODULES = {"operators.merge_modes"}


def _layer_of(relpath: str) -> str:
    head = relpath.split(os.sep)[0]
    return head  # subpackage dir, or the file name for top-level modules


def _files():
    for dirpath, _, files in os.walk(ROOT):
        for f in sorted(files):
            if f.endswith(".py"):
                full = os.path.join(dirpath, f)
                yield full, os.path.relpath(full, ROOT)


def _intra_targets(tree, relpath, top_level_only):
    """Yield (package-relative dotted target, lineno, is_top_level)."""
    parts = relpath.split(os.sep)[:-1]

    def walk(node, top):
        for child in ast.iter_child_nodes(node):
            is_scope = isinstance(
                child, (ast.FunctionDef, ast.AsyncFunctionDef))
            if isinstance(child, ast.ImportFrom):
                if child.level:
                    up = child.level - 1
                    base = parts[:len(parts) - up] if up else list(parts)
                    tgt = ".".join(base + ([child.module]
                                           if child.module else []))
                else:
                    tgt = child.module or ""
                    if not tgt.startswith(PKG):
                        tgt = ""
                    else:
                        tgt = tgt[len(PKG) + 1:]
                if tgt:
                    yield tgt, child.lineno, top
            elif isinstance(child, ast.Import):
                for alias in child.names:
                    if alias.name.startswith(PKG + "."):
                        yield (alias.name[len(PKG) + 1:], child.lineno, top)
            if not top_level_only or not is_scope:
                yield from walk(child, top and not is_scope
                                and not isinstance(child, ast.ClassDef))

    yield from walk(tree, True)


def test_layer_boundaries():
    """Module-level imports respect the inward-only layer order; the one
    sources→operators edge is pinned to exactly the merge algebra."""
    violations = []
    for full, rel in _files():
        layer = _layer_of(rel)
        allowed = _ALLOWED.get(layer)
        if allowed is None:
            violations.append(f"{rel}: unknown layer {layer!r} — "
                              f"add it to the layering table")
            continue
        tree = ast.parse(open(full, encoding="utf-8").read(), filename=full)
        for tgt, lineno, top in _intra_targets(tree, rel, top_level_only=False):
            t_layer = tgt.split(".")[0]
            if t_layer == layer.removesuffix(".py").rstrip(os.sep) or \
                    t_layer == layer.split(".")[0]:
                continue
            if layer == "sources" and t_layer == "operators":
                if tgt not in _SOURCES_OPERATOR_MODULES:
                    violations.append(
                        f"{rel}:{lineno} sources may import ONLY "
                        f"{_SOURCES_OPERATOR_MODULES}, got {tgt!r}")
                continue
            if top and t_layer not in allowed:
                violations.append(
                    f"{rel}:{lineno} {layer} eagerly imports {tgt!r} "
                    f"(allowed: {sorted(allowed)})")
            # function-level lazy imports are the sanctioned cycle-breaker
            # (corpus → sources.dxf_files), but even lazily nothing may
            # reach UP into streaming/plans from a lower layer
            if not top and t_layer in ("streaming", "plans") \
                    and layer not in ("streaming", "plans"):
                violations.append(
                    f"{rel}:{lineno} {layer} reaches up into {tgt!r}")
    assert not violations, "\n".join(violations)


def test_geometry_is_spark_free():
    """geometry/ kernels double as the DuckDB-oracle replicas — they must
    import without a JVM (no pyspark anywhere, incl. lazily)."""
    bad = []
    for full, rel in _files():
        if _layer_of(rel) != "geometry":
            continue
        tree = ast.parse(open(full, encoding="utf-8").read(), filename=full)
        for node in ast.walk(tree):
            if isinstance(node, ast.Import):
                names = [a.name for a in node.names]
            elif isinstance(node, ast.ImportFrom):
                names = [node.module or ""]
            else:
                continue
            for n in names:
                if n.split(".")[0] == "pyspark":
                    bad.append(f"{rel}:{node.lineno} imports {n}")
    assert not bad, "\n".join(bad)


def test_no_package_module_imports_entry_or_tests():
    bad = []
    for full, rel in _files():
        src = open(full, encoding="utf-8").read()
        tree = ast.parse(src, filename=full)
        for node in ast.walk(tree):
            names = []
            if isinstance(node, ast.Import):
                names = [a.name for a in node.names]
            elif isinstance(node, ast.ImportFrom) and node.module:
                names = [node.module]
            for n in names:
                head = n.split(".")[0]
                if head in ("__spark_entry__", "tests", "scripts", "bench"):
                    bad.append(f"{rel}:{node.lineno} imports {n}")
    assert not bad, "\n".join(bad)


# Top-level names with no caller outside tests/ that stay on purpose:
# Python twins of the reference's own code ("mirror") and independent
# implementations the tests check the engine against ("oracle").
_NO_CALLER_OK = {
    "import_report": "mirror",
    "reconstruction_report": "mirror",
    "propagate_selection_up": "mirror",
    "circle_bbox_inside": "mirror",
    "circle_bbox_overlap": "mirror",
    "export_content": "mirror",
    "parse_payload": "mirror",
    "scan_dxf_files": "mirror",
    "dxf_files_to_documents": "mirror",
    "read_world_file": "mirror",
    "Catalog": "mirror",
    "transliterate_py": "oracle",
    "unescape_dxf_unicode_py": "oracle",
    "dxf_unicode_unescape": "oracle",
    "helmert_fit": "oracle",
    "points_covered": "oracle",
    "_label_propagation": "oracle",
}

# what counts as a caller: the package itself and the programs that run it
_CALLER_ROOTS = (PKG, "perfbench", "scripts", "__spark_entry__.py", "bench.py")


def _names_used(node) -> set[str]:
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.add(n.name.rsplit(".", 1)[-1])
    return out


def test_every_package_definition_has_a_caller():
    """Every top-level function or class in the package is referenced
    from code outside tests/ — its own body does not count — or is a
    named mirror/oracle exemption. A capability only its own test calls
    is dead code."""
    repo = os.path.dirname(ROOT)
    defined: dict[str, str] = {}
    used: set[str] = set()
    for root in _CALLER_ROOTS:
        path = os.path.join(repo, root)
        files = ([path] if os.path.isfile(path) else
                 [os.path.join(d, f) for d, _, fs in os.walk(path)
                  for f in fs if f.endswith(".py")])
        for full in files:
            tree = ast.parse(open(full, encoding="utf-8").read(), filename=full)
            for node in tree.body:
                if root == PKG and isinstance(
                        node, (ast.FunctionDef, ast.AsyncFunctionDef,
                               ast.ClassDef)):
                    defined[node.name] = os.path.relpath(full, repo)
                    used |= _names_used(node) - {node.name}
                else:
                    used |= _names_used(node)
    uncalled = sorted(f"{defined[n]}: {n}" for n in set(defined) - used
                      if n not in _NO_CALLER_OK)
    assert not uncalled, "no caller outside tests/:\n" + "\n".join(uncalled)
    stale = sorted(n for n in _NO_CALLER_OK if n not in defined or n in used)
    assert not stale, f"exemptions that are gone or now called: {stale}"

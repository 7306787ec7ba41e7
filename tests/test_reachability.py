"""Guard: every package top-level name is reached from a workload.

The workloads are ``bench.py``, ``__spark_entry__.py`` (the registry's
queries and oracles), ``tools/``, ``perfbench/`` (its tests excluded) and
the package's own module-level statements, which include the public API
each ``__init__.py`` re-exports. An AST walk follows names through Name,
Attribute and import nodes, transitively, from those roots.
A top-level function, class or assigned name of ``mapreduce_hadoop_spark/``
that the walk does not reach fails the test, whether only ``tests/`` use
it or nothing does. Names kept on purpose are in ``ALLOWED``, each with
its reason. No Spark session is started.

Run on its own (prints the unreached names, tests-only ones marked):
    python tests/test_reachability.py [checkout root]
"""

from __future__ import annotations

import ast
import sys
from pathlib import Path

import pytest

PKG = "mapreduce_hadoop_spark"
MODULE_SCOPE = "<module>"

ALLOWED = {
    f"{PKG}.__version__": "package metadata, read by no code",
    f"{PKG}.functions.__all__": "public-API declaration",
    f"{PKG}.sources.__all__": "public-API declaration",
    f"{PKG}.operators.dedup._simhash_from_hs_jvm": (
        "reference twin: tests pin the Arrow simhash fold equal to it"
    ),
    f"{PKG}.operators.similarity.near_dup_cosine_bnlj": (
        "reference twin: tests pin the exact near-dup plan against this "
        "nested-loop join"
    ),
    f"{PKG}.operators.similarity.axis_signs": (
        "reference twin: hand-built sign planes tests feed the LSH path"
    ),
    f"{PKG}.operators.dedup.lsh_dropped_buckets": (
        "reference twin and the LSH bucket-cap count source"
    ),
    f"{PKG}.registry.CHANGED_THIS_ROUND": (
        "registry rotation constant, checked by test_registry_rotation"
    ),
    f"{PKG}.registry.STAGED_NEXT_ROUND": (
        "registry rotation constant, checked by test_registry_rotation"
    ),
    f"{PKG}.registry.REWRITTEN_HASH_IDENTICAL": (
        "registry rotation constant, checked by test_registry_rotation"
    ),
    f"{PKG}.registry.CHANGE_RESERVE": (
        "registry rotation constant, checked by test_registry_rotation"
    ),
    f"{PKG}.registry.DRIVER_WINDOW": (
        "registry rotation constant, checked by test_registry_rotation"
    ),
    f"{PKG}.registry.MAX_REGISTRY": (
        "registry rotation constant, checked by test_registry_rotation"
    ),
    f"{PKG}.streaming.trips.airport_trips_stream": (
        "its removal would change the trip state function's timeout arming "
        "and the checkpoint-restart test's reference: a fold, not a deletion"
    ),
}


class _Module:
    """One parsed file: its top-level definitions and import aliases."""

    def __init__(self, name: str, path: Path, is_pkg: bool):
        self.name = name
        self.tree = ast.parse(path.read_text(), str(path))
        self.package = name if is_pkg else name.rpartition(".")[0]
        self.units: dict[str, list[ast.AST]] = {MODULE_SCOPE: []}
        self.aliases: dict[str, tuple[str, str | None]] = {}
        for node in ast.walk(self.tree):
            if isinstance(node, ast.Import):
                for a in node.names:
                    if a.asname:
                        self.aliases[a.asname] = (a.name, None)
                    else:
                        top = a.name.partition(".")[0]
                        self.aliases[top] = (top, None)
            elif isinstance(node, ast.ImportFrom):
                base = self._absolute(node)
                for a in node.names:
                    self.aliases[a.asname or a.name] = (base, a.name)
        for stmt in self.tree.body:
            if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                self.units.setdefault(stmt.name, []).append(stmt)
            elif isinstance(stmt, (ast.Assign, ast.AnnAssign)):
                targets = stmt.targets if isinstance(stmt, ast.Assign) else [stmt.target]
                names = [
                    n.id
                    for t in targets
                    for n in ast.walk(t)
                    if isinstance(n, ast.Name)
                ]
                for n in names:
                    self.units.setdefault(n, []).append(stmt.value or stmt)
                if not names:
                    self.units[MODULE_SCOPE].append(stmt)
            elif is_pkg or not isinstance(stmt, (ast.Import, ast.ImportFrom)):
                self.units[MODULE_SCOPE].append(stmt)

    def _absolute(self, node: ast.ImportFrom) -> str:
        if not node.level:
            return node.module or ""
        parts = self.package.split(".")
        base = ".".join(parts[: len(parts) - node.level + 1])
        return f"{base}.{node.module}" if node.module else base


class Graph:
    """Name-level reference graph over one checkout."""

    def __init__(self, root: Path):
        root = Path(root)
        self.modules: dict[str, _Module] = {}
        for path in sorted((root / PKG).rglob("*.py")):
            rel = path.relative_to(root).with_suffix("")
            is_pkg = rel.name == "__init__"
            parts = rel.parts[:-1] if is_pkg else rel.parts
            self.modules[".".join(parts)] = _Module(".".join(parts), path, is_pkg)
        self.workload_roots = self._files(
            [root / "bench.py", root / "__spark_entry__.py"]
            + sorted((root / "tools").glob("*.py"))
            + [
                p
                for p in sorted((root / "perfbench").glob("*.py"))
                if not p.name.startswith("test_")
            ]
        )
        self.test_roots = self._files(sorted((root / "tests").glob("*.py")))

    def _files(self, paths: list[Path]) -> list[_Module]:
        return [_Module(p.stem, p, False) for p in paths if p.exists()]

    def _resolve(self, mod: str, name: str, depth: int = 0) -> tuple[str, str] | None:
        """Follow re-exports until ``mod.name`` is a defined name (or None)."""
        if f"{mod}.{name}" in self.modules:
            return None
        m = self.modules.get(mod)
        if m is None or depth > 10:
            return None
        if name in m.units:
            return (mod, name)
        if name in m.aliases:
            tmod, tname = m.aliases[name]
            if tname is not None:
                return self._resolve(tmod, tname, depth + 1)
        return None

    def _module_of(self, m: _Module, expr: ast.expr) -> str | None:
        """The package module an expression names, if it names one."""
        if isinstance(expr, ast.Name):
            if expr.id in m.aliases:
                tmod, tname = m.aliases[expr.id]
                full = f"{tmod}.{tname}" if tname else tmod
                return full if full in self.modules or full == PKG else None
            return None
        if isinstance(expr, ast.Attribute):
            base = self._module_of(m, expr.value)
            if base and f"{base}.{expr.attr}" in self.modules:
                return f"{base}.{expr.attr}"
        return None

    def refs(self, m: _Module, nodes: list[ast.AST]) -> set[tuple[str, str]]:
        """Package names the given nodes of module ``m`` reference."""
        out: set[tuple[str, str]] = set()
        for top in nodes:
            for node in ast.walk(top):
                hit = None
                if isinstance(node, ast.Name):
                    if m.name in self.modules and node.id in m.units:
                        hit = (m.name, node.id)
                    elif node.id in m.aliases:
                        tmod, tname = m.aliases[node.id]
                        if tname is not None:
                            hit = self._resolve(tmod, tname)
                elif isinstance(node, ast.Attribute):
                    base = self._module_of(m, node.value)
                    if base:
                        hit = self._resolve(base, node.attr)
                elif isinstance(node, ast.ImportFrom):
                    base = m._absolute(node)
                    for a in node.names:
                        r = self._resolve(base, a.name)
                        if r:
                            out.add(r)
                if hit:
                    out.add(hit)
        return out

    def closure(self, roots: list[_Module], with_module_scope: bool) -> set[tuple[str, str]]:
        todo: list[tuple[str, str]] = []
        for r in roots:
            todo.extend(self.refs(r, [r.tree]))
        if with_module_scope:
            for m in self.modules.values():
                todo.extend(self.refs(m, m.units[MODULE_SCOPE]))
        seen: set[tuple[str, str]] = set()
        while todo:
            key = todo.pop()
            if key in seen:
                continue
            seen.add(key)
            m = self.modules[key[0]]
            todo.extend(self.refs(m, m.units.get(key[1], [])))
        return seen

    def unreached(self) -> dict[str, bool]:
        """``{module.name: used by tests?}`` for every package top-level
        name that no workload reaches."""
        reached = self.closure(self.workload_roots, with_module_scope=True)
        by_tests = self.closure(self.test_roots, with_module_scope=False)
        return {
            f"{mod}.{name}": (mod, name) in by_tests
            for mod, m in self.modules.items()
            for name in m.units
            if name != MODULE_SCOPE and (mod, name) not in reached
        }


@pytest.fixture(scope="module")
def graph():
    return Graph(Path(__file__).resolve().parents[1])


def test_every_package_name_is_reached_from_a_workload(graph):
    unreached = graph.unreached()
    stray = sorted(k for k in unreached if k not in ALLOWED)
    assert not stray, (
        "package names no workload reaches (delete them, or list them in "
        "ALLOWED with a reason):\n"
        + "\n".join(f"  {k}{' (tests only)' if unreached[k] else ''}" for k in stray)
    )


def test_allow_list_names_only_unreached_existing_names(graph):
    unreached = graph.unreached()
    defined = {
        f"{mod}.{name}" for mod, m in graph.modules.items() for name in m.units
    }
    assert sorted(k for k in ALLOWED if k not in defined) == []
    assert sorted(k for k in ALLOWED if k not in unreached) == []


if __name__ == "__main__":
    root = Path(sys.argv[1]) if len(sys.argv) > 1 else Path(__file__).resolve().parents[1]
    for name, by_tests in sorted(Graph(root).unreached().items()):
        tags = ("  [tests only]" if by_tests else "") + (
            "  [allowed]" if name in ALLOWED else ""
        )
        print(f"{name}{tags}")

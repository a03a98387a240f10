"""Every top-level definition in the package is reached from an entry point.

A Spark-free `ast` walk: the roots are every top-level definition of the
entry points (`__spark_entry__.py`, `bench.py`, `job.py`/`__main__.py`,
`tools/*.py` and the non-test `perfbench/*.py`); a definition reaches every
package name its body, decorators and defaults load, through `import`
aliases and `module.attr` chains. A package definition that nothing
reaches is dead code unless it is a numpy reference that tests compare
reached code against (`REFERENCES`).
"""

from __future__ import annotations

import ast
from functools import lru_cache
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = "lsh_cascade_poc_spark"

# kept on purpose: numpy references the tests check reached kernels against
REFERENCES = {
    f"{PACKAGE}.reference_impl.*",
    f"{PACKAGE}.__version__",
    f"{PACKAGE}.functions.minhash.minhash_numpy",
    f"{PACKAGE}.functions.simhash.simhash_from_hashes_numpy",
    f"{PACKAGE}.functions.simhash.hamming64_numpy",
    f"{PACKAGE}.functions.signature_udf.doc_shingles",
    f"{PACKAGE}.operators.suffix._winnow",
    f"{PACKAGE}.operators.suffix._kgram_hashes",
    f"{PACKAGE}.embedding.confidence.confidence_probes_numpy",
}


def _module_name(path: Path) -> str:
    parts = list(path.relative_to(ROOT).with_suffix("").parts)
    if parts[-1] == "__init__":
        parts.pop()
    return ".".join(parts)


def _entry_files() -> list[Path]:
    files = [ROOT / "__spark_entry__.py", ROOT / "bench.py",
             ROOT / PACKAGE / "job.py", ROOT / PACKAGE / "__main__.py"]
    files += sorted((ROOT / "tools").glob("*.py"))
    files += sorted(p for p in (ROOT / "perfbench").glob("*.py")
                    if not p.name.startswith("test_"))
    return files


class _Module:
    """The top-level definitions of one file and the names it imports."""

    def __init__(self, name: str, path: Path, is_package: bool):
        self.name = name
        self.tree = ast.parse(path.read_text(), str(path))
        self.defs: dict[str, list[ast.AST]] = {}
        for node in self.tree.body:
            for target in _defined_names(node):
                self.defs.setdefault(target, []).append(node)
        # alias -> dotted target ("pkg.mod" or "pkg.mod.attr"), from every
        # import in the file, function-local ones included
        self.aliases: dict[str, str] = {}
        base = name if is_package else name.rpartition(".")[0]
        for node in ast.walk(self.tree):
            if isinstance(node, ast.Import):
                for a in node.names:
                    if a.asname:
                        self.aliases[a.asname] = a.name
                    else:
                        head = a.name.split(".")[0]
                        self.aliases[head] = head
            elif isinstance(node, ast.ImportFrom):
                src = node.module or ""
                if node.level:
                    pkg = base.split(".")
                    pkg = pkg[: len(pkg) - (node.level - 1)]
                    src = ".".join(pkg + ([src] if src else []))
                for a in node.names:
                    self.aliases[a.asname or a.name] = f"{src}.{a.name}"


def _defined_names(node: ast.AST) -> list[str]:
    if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return [node.name]
    if isinstance(node, (ast.Assign, ast.AnnAssign, ast.AugAssign)):
        targets = node.targets if isinstance(node, ast.Assign) else [node.target]
        return [n.id for t in targets for n in ast.walk(t)
                if isinstance(n, ast.Name)]
    return []


@lru_cache(maxsize=1)
def _load_modules() -> dict[str, _Module]:
    mods = {}
    for path in sorted((ROOT / PACKAGE).rglob("*.py")):
        name = _module_name(path)
        mods[name] = _Module(name, path, path.name == "__init__.py")
    for path in _entry_files():
        name = _module_name(path)
        if name not in mods:
            mods[name] = _Module(name, path, False)
    return mods


def _loaded_refs(node: ast.AST) -> list[list[str]]:
    """Every loaded name with the attribute chain read off it: `a.b.c` ->
    ["a", "b", "c"]."""
    chains = []
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            chains.append([n.id])
        elif isinstance(n, ast.Attribute):
            parts, cur = [], n
            while isinstance(cur, ast.Attribute):
                parts.append(cur.attr)
                cur = cur.value
            if isinstance(cur, ast.Name):
                chains.append([cur.id] + parts[::-1])
    return chains


def _resolve(mods: dict[str, _Module], dotted: str, seen=()) -> tuple[str, str] | None:
    """`pkg.mod.attr...` -> the (module, top-level name) it lands on."""
    parts = dotted.split(".")
    for cut in range(len(parts), 0, -1):
        mod = ".".join(parts[:cut])
        if mod not in mods:
            continue
        rest = parts[cut:]
        if not rest:
            return None
        m = mods[mod]
        if rest[0] in m.defs:
            return (mod, rest[0])
        if rest[0] in m.aliases and dotted not in seen:
            target = m.aliases[rest[0]]
            return _resolve(mods, ".".join([target] + rest[1:]), seen + (dotted,))
        return None
    return None


def reachable() -> tuple[set[tuple[str, str]], dict[str, _Module]]:
    mods = _load_modules()
    entries = {_module_name(p) for p in _entry_files()}
    todo = [(m, d) for m in entries for d in mods[m].defs]
    # an imported module runs its top-level statements
    touched: set[str] = set()
    seen: set[tuple[str, str]] = set()

    def edges(mod: _Module, nodes: list[ast.AST]):
        for node in nodes:
            for chain in _loaded_refs(node):
                head = chain[0]
                if head in mod.defs:
                    yield (mod.name, head)
                elif head in mod.aliases:
                    for k in range(len(chain), 0, -1):
                        hit = _resolve(mods, ".".join(
                            [mod.aliases[head]] + chain[1:k]))
                        if hit:
                            yield hit
                            break

    while todo:
        key = todo.pop()
        if key in seen:
            continue
        seen.add(key)
        mod = mods[key[0]]
        nodes = list(mod.defs[key[1]])
        if mod.name not in touched:
            touched.add(mod.name)
            nodes += [n for n in mod.tree.body if not _defined_names(n)]
        todo.extend(edges(mod, nodes))
    return seen, mods


def _allowed(mod: str, name: str) -> bool:
    return (f"{mod}.{name}" in REFERENCES
            or f"{mod}.*" in REFERENCES)


def unreached() -> list[str]:
    seen, mods = reachable()
    return sorted(
        f"{m}.{d}"
        for m, mod in mods.items() if m.split(".")[0] == PACKAGE
        for d in mod.defs
        if (m, d) not in seen and not _allowed(m, d)
        and d not in ("__all__", "__doc__"))


def test_every_package_definition_is_reached():
    dead = unreached()
    assert not dead, (
        f"{len(dead)} top-level definitions no entry point reaches "
        "(delete them, or list a kept numpy reference in REFERENCES):\n  "
        + "\n  ".join(dead))


def test_references_exist():
    """A stale allowlist entry hides nothing but is still a lie."""
    mods = _load_modules()
    for ref in REFERENCES:
        mod, _, name = ref.rpartition(".")
        assert mod in mods, ref
        assert name == "*" or name in mods[mod].defs, ref


if __name__ == "__main__":
    print("\n".join(unreached()))

"""Settings and code the engine keeps, pinned from its source text: the
environment variables it reads, and no module or function that nothing
runs."""

import ast
import re
from pathlib import Path

KGPIPE = Path(__file__).resolve().parents[1] / "kgpipe"

# where the engine runs and where it writes: the only settings a
# deployment passes through the environment
DEPLOYMENT_SETTINGS = {
    "SPARK_GRAFT_CPUS", "KGPIPE_MASTER", "KGPIPE_DRIVER_MEM",
    "KGPIPE_TABLE_FORMAT",
}

_ACCESS = re.compile(r"\b(?:environ|getenv)\b")
_LITERAL_READ = re.compile(
    r"\b(?:environ\s*\[|environ\.get\s*\(|getenv\s*\()\s*['\"](\w+)['\"]")


def test_kgpipe_reads_only_deployment_env_vars():
    """kgpipe/ reads the deployment settings and nothing else from the
    environment: a measurement toggle read there would change what a
    run does without a trace in its arguments. Every access must name
    its variable as a literal, so none escapes this check."""
    names, accesses, literal = {}, 0, 0
    for path in sorted(KGPIPE.rglob("*.py")):
        text = path.read_text(encoding="utf8")
        accesses += len(_ACCESS.findall(text))
        for m in _LITERAL_READ.finditer(text):
            literal += 1
            names.setdefault(m.group(1), []).append(path.name)
    assert accesses == literal, "environment read without a literal name"
    assert set(names) == DEPLOYMENT_SETTINGS, names


# the code outside tests/ that runs the engine: pipeline stages, driver
# queries, kept scripts and the benchmarks
ROOT = KGPIPE.parent
RUNNERS = [*KGPIPE.rglob("*.py"), *(ROOT / "scripts").glob("*.py"),
           *(ROOT / "perfbench").rglob("*.py"), ROOT / "bench.py",
           ROOT / "__spark_entry__.py"]
SOURCES = RUNNERS + sorted((ROOT / "tests").glob("*.py"))
# the paper's S4 KB-construction stage: kept, tested, and not wired into
# run_pipeline yet
UNWIRED_MODULES = {"wiki_extract"}


def _tree(path: Path) -> ast.Module:
    return ast.parse(path.read_text(encoding="utf8"))


def test_every_kgpipe_module_is_imported_outside_tests():
    """A module only tests import is code the engine never runs."""
    imported = set()
    for path in RUNNERS:
        mods = set()
        for node in ast.walk(_tree(path)):
            if isinstance(node, ast.Import):
                mods |= {a.name for a in node.names}
            elif isinstance(node, ast.ImportFrom) and node.module:
                mods.add(node.module)
                mods |= {f"{node.module}.{a.name}" for a in node.names}
        # a module importing itself does not count
        mods.discard(f"kgpipe.{path.stem}")
        imported |= mods
    modules = {p.stem for p in KGPIPE.glob("*.py")} - {"__init__"}
    unimported = {m for m in modules if f"kgpipe.{m}" not in imported}
    assert unimported == UNWIRED_MODULES


def _names(node: ast.AST) -> set:
    """Every identifier a statement uses, imports or reads as an attribute."""
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.add(n.name.rsplit(".", 1)[-1])
    return out


def _defines(stmt: ast.stmt) -> set:
    """The names a top-level statement defines: a function, or the
    targets of an assignment (dunders such as __version__ excepted)."""
    if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef)):
        return {stmt.name}
    targets = (stmt.targets if isinstance(stmt, ast.Assign) else
               [stmt.target] if isinstance(stmt, ast.AnnAssign) else [])
    return {n.id for t in targets for n in ast.walk(t)
            if isinstance(n, ast.Name) and not n.id.startswith("__")}


def test_every_kgpipe_function_is_named_outside_its_definition():
    """A top-level function or value that nothing names, tests
    included, is dead; a recursive call inside its own body, or the
    assignment's own target, does not count as a use."""
    named, defined = set(), []
    for path in SOURCES:
        for stmt in _tree(path).body:
            own = _defines(stmt)
            if path.is_relative_to(KGPIPE):
                defined += [f"{path.stem}.{name}" for name in own]
            named |= _names(stmt) - own
    unnamed = [d for d in defined if d.rsplit(".", 1)[1] not in named]
    assert not unnamed, unnamed

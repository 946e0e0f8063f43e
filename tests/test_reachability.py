"""Dead-code gate: every ``bmspark/`` module and top-level def must be
reachable from a program that runs, or sit on the written keep list.

Roots are the entry points: ``jobs/``, ``perfbench/``,
``__spark_entry__.py`` (the query-key contract), the bench scripts,
``scale_probe.py`` and ``tools_plan_capture.py``. Tests are not roots.
The keep list is the "Kept without a production caller" section of
docs/SCALE.md: each bullet names code in backticks and says why it
stays, and those names are extra roots.

The walk is by import and by name: a reached file or def reaches every
``bmspark`` module it imports and every identifier it mentions, and a
top-level def of a reached module is reached once its name is. Matching
names over-approximates calls, so the check can miss dead code (a dead
``run`` hides behind any live ``.run``) but never flags live code.
Pure ``ast``: no Spark, well under a second.
"""

from __future__ import annotations

import ast
import functools
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = ROOT / "bmspark"
ROOT_FILES = sorted(
    [*ROOT.glob("jobs/*.py"), *ROOT.glob("perfbench/*.py"), *ROOT.glob("bench*.py")]
    + [ROOT / f for f in ("__spark_entry__.py", "scale_probe.py", "tools_plan_capture.py")]
)
KEEP_HEADING = "## Kept without a production caller"
DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


@functools.cache
def _modules() -> dict[str, ast.Module]:
    out = {}
    for p in sorted(PKG.rglob("*.py")):
        parts = p.relative_to(ROOT).with_suffix("").parts
        name = ".".join(parts[:-1] if parts[-1] == "__init__" else parts)
        out[name] = ast.parse(p.read_text(), str(p))
    return out


def _identifiers(nodes) -> set[str]:
    """Every name a piece of code could call something by: names,
    attributes, import aliases and identifier-shaped string constants."""
    out = set()
    for top in nodes:
        for n in ast.walk(top):
            if isinstance(n, ast.Name):
                out.add(n.id)
            elif isinstance(n, ast.Attribute):
                out.add(n.attr)
            elif isinstance(n, ast.alias):
                out.add(n.name.split(".")[-1])
            elif isinstance(n, ast.Constant) and isinstance(n.value, str) \
                    and n.value.isidentifier():
                out.add(n.value)
    return out


def _imports(nodes, package: str, modules) -> set[str]:
    """bmspark modules imported anywhere in ``nodes`` (with parents)."""
    out = set()
    for top in nodes:
        for n in ast.walk(top):
            if isinstance(n, ast.Import):
                targets = [a.name for a in n.names]
            elif isinstance(n, ast.ImportFrom):
                base = n.module or ""
                if n.level:
                    base = ".".join(
                        package.split(".")[: len(package.split(".")) - n.level + 1]
                        + ([base] if base else [])
                    )
                targets = [base] + [f"{base}.{a.name}" for a in n.names]
            else:
                continue
            for t in targets:
                parts = t.split(".")
                out |= {".".join(parts[:i]) for i in range(1, len(parts) + 1)}
    return out & set(modules)


def _residual(tree: ast.Module) -> list[ast.AST]:
    """The code a module runs at import: every statement that is not a
    top-level def, plus the defs' decorators and default values."""
    out = []
    for stmt in tree.body:
        if isinstance(stmt, DEFS):
            out += stmt.decorator_list
            if not isinstance(stmt, ast.ClassDef):
                out += stmt.args.defaults + [d for d in stmt.args.kw_defaults if d]
        else:
            out.append(stmt)
    return out


def keep_list() -> list[tuple[list[str], str]]:
    """(backticked names, reason) per bullet of the keep-list section."""
    text = (ROOT / "docs" / "SCALE.md").read_text()
    if KEEP_HEADING not in text:
        return []
    section = text.split(KEEP_HEADING, 1)[1].split("\n## ", 1)[0]
    out = []
    for b in ("\n" + section).split("\n- ")[1:]:
        b = " ".join(b.split())
        head, _, reason = b.partition(":")
        out.append((re.findall(r"`([^`]+)`", head), reason.strip()))
    return out


def reach(extra_roots: list[str] = ()) -> tuple[set[str], set[tuple[str, str]]]:
    """(reached modules, reached (module, def) pairs) from the root
    files plus ``extra_roots``, keep-list names as ``module.name``: the
    name is reached, and every module with that last component is
    imported."""
    modules = _modules()
    defs = {m: {s.name: s for s in t.body if isinstance(s, DEFS)} for m, t in modules.items()}
    names: set[str] = set()
    mods: set[str] = set()
    done: set[tuple[str, str]] = set()
    todo: list[tuple[str, list]] = []  # (package for relative imports, nodes)

    for f in ROOT_FILES:
        todo.append(("", [ast.parse(f.read_text(), str(f))]))
    for r in extra_roots:
        *qual, name = r.split(".")
        names.add(name)
        todo += [("", [ast.parse(f"import {m}")]) for m in modules
                 if qual and m.split(".")[-1] == qual[-1]]

    while True:
        while todo:
            pkg, nodes = todo.pop()
            names |= _identifiers(nodes)
            for m in sorted(_imports(nodes, pkg, modules) - mods):
                mods.add(m)
                todo.append((m, _residual(modules[m])))
        fresh = [(m, n) for m in mods for n in defs[m]
                 if n in names and (m, n) not in done]
        if not fresh:
            return mods, done
        for m, n in fresh:
            done.add((m, n))
            todo.append((m, [defs[m][n]]))


def _keep_roots() -> list[str]:
    return [n for entry, _ in keep_list() for n in entry]


def test_every_module_and_def_is_reached():
    mods, reached = reach(_keep_roots())
    modules = _modules()
    dead_mods = sorted(set(modules) - mods)
    dead_defs = sorted(
        f"{m}.{s.name}"
        for m, t in modules.items() if m in mods
        for s in t.body
        if isinstance(s, DEFS) and (m, s.name) not in reached
    )
    assert not dead_mods and not dead_defs, (
        "reached only from tests (wire it, delete it, or add it with a "
        f"reason to docs/SCALE.md {KEEP_HEADING!r}):\n"
        f"modules: {dead_mods}\ndefs: {dead_defs}"
    )


def test_keep_list_names_live_code_and_gives_reasons():
    """Each keep-list entry exists, says why it stays, and still has no
    production caller (one that gained a caller leaves the list)."""
    entries = keep_list()
    assert entries, f"docs/SCALE.md has no {KEEP_HEADING!r} bullets"
    modules = _modules()
    all_defs = {(m, s.name) for m, t in modules.items() for s in t.body
                if isinstance(s, DEFS)}
    _, from_programs = reach()
    for names, reason in entries:
        assert names and len(reason) > 20, (names, reason)
        for n in names:
            *qual, name = n.split(".")
            hits = {(m, d) for m, d in all_defs
                    if d == name and (not qual or m.split(".")[-1] == qual[-1])}
            assert hits, f"keep list names {n!r}, which does not exist"
            assert not hits & from_programs, f"{n!r} now has a production caller"

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


# -- the dedup idioms live in one place -----------------------------------------

#: idiom -> (file, top-level defs) of the one place it may appear
DEDUP_CORE = {
    "whitespace split or replace": (
        "bmspark/functions/text.py",
        ("tokens", "TOKENS_SQL", "normalized", "NORMALIZED_SQL", "_WS_SQL"),
    ),
    "array_sort(collect_list(...))": ("bmspark/functions/curation.py", ("collect_sorted",)),
    "row_number() window filtered to == 1": ("bmspark/functions/dedup.py", ("keep_first",)),
}
#: names of the whitespace class (functions/text.py WS, its RE2 spelling and
#: that spelling's SQL literal)
WS_NAMES = {"WS", "_RE2_WS", "_WS_SQL"}


def _callee(n) -> str | None:
    """The called name of a Call node (``F.split(...)`` -> ``split``)."""
    if isinstance(n, ast.Call):
        f = n.func
        return f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)
    return None


def _first_arg_calls(n, name: str) -> bool:
    return bool(getattr(n, "args", None)) and _callee(n.args[0]) == name


def _is_whitespace_rule(n) -> bool:
    """A use of the whitespace class (``WS``, ``_RE2_WS``, ``_WS_SQL``), a ``\\s+``
    pattern, or a DuckDB ``string_split_regex(`` call."""
    if isinstance(n, (ast.Name, ast.Attribute)) and isinstance(n.ctx, ast.Load):
        return (n.id if isinstance(n, ast.Name) else n.attr) in WS_NAMES
    return isinstance(n, ast.Constant) and isinstance(n.value, str) \
        and ("\\s+" in n.value or "string_split_regex(" in n.value)


def _dedup_idiom_sites() -> set[tuple[str, str, str]]:
    """(idiom, file, top-level def or assigned name) for each use in
    ``bmspark/``, ``jobs/`` and ``__spark_entry__.py``. A row_number
    column is one named by ``withColumn(name, ...row_number()...)`` or
    ``...row_number()....alias(name)``; the idiom is a ``col(name) ==
    1`` comparison in the same def."""
    out = set()
    files = [*PKG.rglob("*.py"), *ROOT.glob("jobs/*.py"), ROOT / "__spark_entry__.py"]
    for p in sorted(files):
        for top in ast.parse(p.read_text(), str(p)).body:
            rn_cols = set()
            for n in ast.walk(top):
                if _callee(n) == "withColumn" and len(n.args) == 2:
                    name, expr = n.args
                elif _callee(n) == "alias" and n.args and isinstance(n.func, ast.Attribute):
                    name, expr = n.args[0], n.func.value
                else:
                    continue
                if isinstance(name, ast.Constant) \
                        and any(_callee(c) == "row_number" for c in ast.walk(expr)):
                    rn_cols.add(name.value)
            for n in ast.walk(top):
                if _is_whitespace_rule(n):
                    idiom = "whitespace split or replace"
                elif _callee(n) == "array_sort" and _first_arg_calls(n, "collect_list"):
                    idiom = "array_sort(collect_list(...))"
                elif isinstance(n, ast.Compare) and isinstance(n.ops[0], ast.Eq) \
                        and _callee(n.left) == "col" and n.left.args \
                        and getattr(n.left.args[0], "value", None) in rn_cols \
                        and getattr(n.comparators[0], "value", None) == 1:
                    idiom = "row_number() window filtered to == 1"
                else:
                    continue
                name = top.targets[0].id if isinstance(top, ast.Assign) \
                    else getattr(top, "name", "<module>")
                out.add((idiom, str(p.relative_to(ROOT)), name))
    return out


def test_dedup_idioms_live_only_in_the_core():
    """Keep-first, segment rebuild and the token rule are written once
    (functions/dedup ``keep_first``, the functions/curation segment
    core, the functions/text token rule and normalization): each idiom
    appears exactly at its core defs and nowhere else in the program.
    Finding the core defs themselves shows the scan still recognises
    each idiom."""
    sites = _dedup_idiom_sites()
    core = {(idiom, f, d) for idiom, (f, defs) in DEDUP_CORE.items() for d in defs}
    assert sites == core, (
        f"outside the core: {sorted(sites - core)}; core not found: {sorted(core - sites)}"
    )

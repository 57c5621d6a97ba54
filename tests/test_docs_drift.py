"""Docs-vs-code drift guards.

Round 8's verdict caught README claiming a 215-query catalog against
216 registered queries — the number had been hand-maintained through
three rounds of growth. These tests make the documented counts fail
loudly the moment the catalog moves, so the fix happens in the same
commit as the query. The same holds for package code: a def that no
entry point reaches fails the reach guard at the bottom.
"""

from __future__ import annotations

import ast
import pathlib
import re

from mongodb_etl_migration_spark.queries import ORACLES, QUERIES

REPO = pathlib.Path(__file__).resolve().parents[1]


def test_readme_catalog_count_matches_registry():
    readme = (REPO / "README.md").read_text()
    m = re.search(r"(\d+)-query catalog", readme)
    assert m, "README no longer states the catalog size"
    assert int(m.group(1)) == len(QUERIES), (
        f"README says {m.group(1)} queries, registry has {len(QUERIES)} — "
        "update README.md's layout block"
    )


def test_every_query_has_an_oracle_or_is_documented():
    """The driver records a weaker rows-only check for oracle-less
    queries; keep that set EMPTY (every current query is
    SQL-expressible) so any future omission is a deliberate,
    reviewed choice rather than a forgotten registration."""
    missing = sorted(set(QUERIES) - set(ORACLES))
    assert missing == [], f"queries without DuckDB oracles: {missing}"


def test_documented_script_paths_exist():
    """Every ``scripts/<name>.py`` the user-facing docs name must
    exist: a deleted script must take its doc references with it."""
    docs = ["README.md", "COVERAGE.md", ".claude/skills/verify/SKILL.md"]
    missing = sorted(
        {
            (doc, path)
            for doc in docs
            for path in re.findall(
                r"scripts/\w+\.py", (REPO / doc).read_text()
            )
            if not (REPO / path).is_file()
        }
    )
    assert missing == [], f"docs name scripts that do not exist: {missing}"


def _top_level_names(path: pathlib.Path) -> set[str]:
    """Names a module defines at top level: defs, classes, assignments."""
    names = set()
    for node in ast.parse(path.read_text()).body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            names.add(node.name)
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            names |= {
                n.id for t in targets for n in ast.walk(t) if isinstance(n, ast.Name)
            }
    return names


def test_documented_package_names_exist():
    """Every backticked ``module.name`` the user-facing docs give for a
    package module must be defined at that module's top level: a
    renamed or deleted function must take its doc references with it.
    ``module.py`` file names are not names."""
    defined = {
        p.stem: _top_level_names(p)
        for p in (REPO / "mongodb_etl_migration_spark").rglob("*.py")
        if p.name != "__init__.py"
    }
    missing = {
        (doc, f"{mod}.{name}")
        for doc in ["README.md", "COVERAGE.md"]
        for mod, name in re.findall(r"`(\w+)\.(\w+)", (REPO / doc).read_text())
        if mod in defined and name != "py" and name not in defined[mod]
    }
    assert missing == set(), f"docs name package members that do not exist: {missing}"


PACKAGE = REPO / "mongodb_etl_migration_spark"
ENTRY_FILES = ["bench.py", "__spark_entry__.py", "scripts/*.py", "perfbench/*.py"]
_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _foreign_aliases(tree: ast.AST) -> set[str]:
    """Names a file binds to a module outside the package."""
    bound = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            bound |= {
                (a.asname or a.name).split(".")[0]
                for a in node.names
                if not a.name.startswith(PACKAGE.name)
            }
        elif isinstance(node, ast.ImportFrom) and node.level == 0:
            if not (node.module or "").startswith(PACKAGE.name):
                bound |= {a.asname or a.name for a in node.names}
    return bound


def _names_used(nodes, foreign: set[str]) -> set[str]:
    """Identifiers, import names and string constants under ``nodes``,
    except attributes read off a module imported from outside the
    package (``pq.write_table`` is not the package's ``write_table``)."""
    used = set()
    for node in (n for root in nodes for n in ast.walk(root)):
        if isinstance(node, ast.Name):
            used.add(node.id)
        elif isinstance(node, ast.Attribute):
            base = node.value
            while isinstance(base, ast.Attribute):
                base = base.value
            if not (isinstance(base, ast.Name) and base.id in foreign):
                used.add(node.attr)
        elif isinstance(node, ast.alias):
            used.add(node.name.split(".")[-1])
        elif isinstance(node, ast.Constant) and isinstance(node.value, str):
            used.add(node.value)
    return used


def unreached_package_defs() -> list[str]:
    """Top-level package defs and classes that no entry point reaches.

    Reach starts at the module-level statements of every non-``__init__``
    package module (decorated defs count: ``@query`` registers them) and
    at the whole of each entry file, and follows names transitively
    through the bodies of reached defs. ``__init__`` re-exports are not
    reach."""
    defs: dict[str, list[tuple[str, ast.AST, set[str]]]] = {}
    reached: set[str] = set()
    for path in sorted(PACKAGE.rglob("*.py")):
        tree = ast.parse(path.read_text())
        foreign = _foreign_aliases(tree)
        rel = path.relative_to(REPO)
        module = ".".join(rel.with_suffix("").parts)
        for node in tree.body:
            if isinstance(node, _DEFS):
                defs.setdefault(node.name, []).append(
                    (f"{module}.{node.name} ({rel}:{node.lineno})", node, foreign)
                )
        if path.name == "__init__.py":
            continue
        top = [n for n in tree.body if not isinstance(n, _DEFS)]
        top += [d for n in tree.body if isinstance(n, _DEFS) for d in n.decorator_list]
        reached |= _names_used(top, foreign)
        reached |= {
            n.name for n in tree.body if isinstance(n, _DEFS) and n.decorator_list
        }
    for pattern in ENTRY_FILES:
        for path in sorted(REPO.glob(pattern)):
            tree = ast.parse(path.read_text())
            reached |= _names_used([tree], _foreign_aliases(tree))
    todo = [name for name in reached if name in defs]
    seen = set(todo)
    while todo:
        for _, node, foreign in defs[todo.pop()]:
            for name in _names_used([node], foreign) - seen:
                if name in defs:
                    seen.add(name)
                    todo.append(name)
    return sorted(where for name, entries in defs.items() if name not in seen
                  for where, _, _ in entries)


def test_every_package_def_is_reached_from_an_entry_point():
    """Package code that only tests call is a capability nobody uses:
    delete it, or move a test reference into ``tests/``."""
    unreached = unreached_package_defs()
    assert unreached == [], (
        f"{len(unreached)} package defs no entry point reaches:\n  "
        + "\n  ".join(unreached)
    )

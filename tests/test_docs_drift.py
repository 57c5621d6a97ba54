"""Docs-vs-code drift guards.

Round 8's verdict caught README claiming a 215-query catalog against
216 registered queries — the number had been hand-maintained through
three rounds of growth. These tests make the documented counts fail
loudly the moment the catalog moves, so the fix happens in the same
commit as the query.
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

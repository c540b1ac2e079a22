"""Static import resolution, no Spark session.

Most ``__spark_entry__`` queries and many operators import lazily inside
functions, so a module deletion or rename only surfaces when that one
code path runs. This walks every ``import`` / ``from ... import``
(function-local ones included) in the package, ``__spark_entry__.py``
and the tools, and checks that each target module imports and each
imported name exists. ``VERDICT.md``'s parity citations are checked the
same way: each must name a query or a test that still exists.
"""

import ast
import importlib
import re
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
SOURCES = sorted(
    [*REPO.glob("textgraphs_spark/**/*.py"), REPO / "__spark_entry__.py",
     *REPO.glob("tools/*.py")]
)


def _package_of(path: Path) -> str:
    return ".".join(path.relative_to(REPO).parts[:-1])


def _imports(path: Path):
    """(lineno, module, names) for every import statement in ``path``."""
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            for a in node.names:
                yield node.lineno, a.name, []
        elif isinstance(node, ast.ImportFrom):
            if node.module == "__future__":
                continue
            if node.level:
                base = _package_of(path).split(".")
                base = base[: len(base) - (node.level - 1)]
                module = ".".join(base + ([node.module] if node.module else []))
            else:
                module = node.module
            yield node.lineno, module, [a.name for a in node.names]


@pytest.mark.parametrize(
    "path", SOURCES, ids=[str(p.relative_to(REPO)) for p in SOURCES]
)
def test_every_import_resolves(path):
    missing = []
    for lineno, module, names in _imports(path):
        try:
            mod = importlib.import_module(module)
        except ImportError as e:
            missing.append(f"{path.name}:{lineno}: {module} ({e})")
            continue
        for name in names:
            if name == "*" or hasattr(mod, name):
                continue
            try:
                importlib.import_module(f"{module}.{name}")
            except ImportError:
                missing.append(f"{path.name}:{lineno}: {module}.{name}")
    assert not missing, "\n".join(missing)


def test_oracle_keys_are_queries():
    import __spark_entry__ as em

    assert set(em.oracle_sql()) <= set(em.queries())


def test_verdict_parity_citations_exist():
    """Every backticked snake_case name in the Correctness column of
    VERDICT.md's operator-coverage table (SURVEY §2) is a driver query or
    a test function, so deleting either cannot leave stale evidence."""
    import __spark_entry__ as em

    text = (REPO / "VERDICT.md").read_text()
    table = text.split("## Operator coverage vs SURVEY.md §2", 1)[1]
    table = table.split("\n## ", 1)[0]
    cited = set()
    for line in table.splitlines():
        cells = [c.strip() for c in line.split("|")]
        if len(cells) < 6 or cells[1] in ("", "ID") or set(cells[1]) == {"-"}:
            continue
        cited |= set(re.findall(r"`([a-z][a-z0-9_]*)`", cells[4]))
    tests = {
        name
        for path in (REPO / "tests").rglob("*.py")
        for name in re.findall(r"^def (test_\w+)", path.read_text(), re.M)
    }
    assert cited
    assert sorted(cited - set(em.queries()) - tests) == []


def test_plan_and_coverage_docs_cite_live_code():
    """PLANS.md's plan-shape table names only driver queries, and every
    backticked ``*.py`` path in COVERAGE.md is a file in the repo, so
    deleting a query or a module cannot leave stale rows behind."""
    import __spark_entry__ as em

    plans = (REPO / "PLANS.md").read_text()
    table = plans.split("## Per-query plan shapes", 1)[1].split("\n## ", 1)[0]
    named = set()
    for line in table.splitlines():
        cells = [c.strip() for c in line.split("|")]
        if len(cells) > 2 and cells[1] != "query" and set(cells[1]) != {"-"}:
            named |= set(re.findall(r"`([^`]+)`", cells[1]))
    assert named
    assert sorted(named - set(em.queries())) == []

    files = [
        p.relative_to(REPO).as_posix() for p in REPO.rglob("*.py")
        if not p.relative_to(REPO).parts[0].startswith(".")
    ]
    cited = {
        path
        for code in re.findall(r"`([^`]+)`", (REPO / "COVERAGE.md").read_text())
        for path in re.findall(r"[\w./-]*\w\.py\b", code)
    }
    assert cited
    missing = sorted(
        path for path in cited
        if not any(f == path or f.endswith("/" + path) for f in files)
    )
    assert missing == []

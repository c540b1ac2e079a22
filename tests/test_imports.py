"""Static import resolution, no Spark session.

Most ``__spark_entry__`` queries and many operators import lazily inside
functions, so a module deletion or rename only surfaces when that one
code path runs. This walks every ``import`` / ``from ... import``
(function-local ones included) in the package, ``__spark_entry__.py``,
the tools and the bench harness, and checks that each target module
imports and each imported name exists.
"""

import ast
import importlib
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
SOURCES = sorted(
    [*REPO.glob("textgraphs_spark/**/*.py"), REPO / "__spark_entry__.py",
     *REPO.glob("tools/*.py"), REPO / "bench.py"]
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

"""Dependencies point down: queries and pipelines import operators and
the lake, never the other way round. Every import in every package
module counts, including imports inside functions, so a lazy import
cannot hide an upward edge. Replay checks stay inside the lake too: a
``LakeTable`` write skips a ``txn`` it already applied, so no caller
guards itself with ``last_txn``; and a streaming fold's fresh-table
branch lives in ``LakeTable.fold``, so no streaming job asks a table
whether it ``exists()``. The commit protocol (``lake/log.py``) imports no
``pyspark``, and the change feed and the stream source read commits
only through it."""

import ast
import pathlib

import pytest

PKG = "ecommerce_lakehouse_spark"
ROOT = pathlib.Path(__file__).resolve().parent.parent / PKG

# layer (a subpackage dir or a top-level module) -> packages it must not import
FORBIDDEN = {
    "lake": ("queries", "pipelines", "streaming"),
    "operators": ("queries", "pipelines", "streaming"),
    "quality": ("queries",),
    "sources": ("queries",),
    "pipelines": ("queries",),
    "streaming": ("queries",),
    "tables.py": ("queries",),
    "money.py": ("queries",),
    "session.py": ("queries",),
}


def _module_name(path: pathlib.Path, root: pathlib.Path) -> str:
    parts = path.relative_to(root.parent).with_suffix("").parts
    return ".".join(parts[:-1] if parts[-1] == "__init__" else parts)


def _imported(path: pathlib.Path, root: pathlib.Path):
    """(line, dotted name) for every import in the file: the module of an
    ``import`` and both ``module`` and ``module.name`` of a
    ``from module import name`` (so ``from pkg import queries`` counts)."""
    here = _module_name(path, root)
    package = here if path.name == "__init__.py" else here.rpartition(".")[0]
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            for alias in node.names:
                yield node.lineno, alias.name
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                anchor = package.split(".")[: len(package.split(".")) - node.level + 1]
                base = ".".join(anchor + ([base] if base else []))
            yield node.lineno, base
            for alias in node.names:
                yield node.lineno, f"{base}.{alias.name}"


def _violations(
    layer: str, banned: tuple[str, ...], root=ROOT, outside: tuple[str, ...] = ()
) -> list[str]:
    """Imports in ``layer`` of the package's ``banned`` modules, or of the
    top-level packages ``outside`` it."""
    target = root / layer
    files = [target] if target.suffix == ".py" else sorted(target.rglob("*.py"))
    assert files, f"no modules found for layer {layer}"
    prefixes = [f"{PKG}.{b}" for b in banned] + list(outside)
    out = []
    for f in files:
        for line, name in _imported(f, root):
            for prefix in prefixes:
                if name == prefix or name.startswith(prefix + "."):
                    out.append(f"{f.relative_to(root.parent)}:{line} imports {name}")
    return sorted(set(out))


@pytest.mark.parametrize("layer", sorted(FORBIDDEN))
def test_layer_imports_point_down(layer):
    assert _violations(layer, FORBIDDEN[layer]) == []


def test_log_core_imports_no_pyspark():
    """The commit protocol runs without a SparkSession or a JVM."""
    assert _violations("lake/log.py", (), outside=("pyspark",)) == []


# manifest plumbing the change feed and the stream source leave to Log:
# they read commits through it and its actions_between walk
LOG_PLUMBING = tuple(
    f"lake.{m}.{name}"
    for m in ("log", "table")
    for name in ("_read_manifest", "_head_version", "_live_rels")
)


@pytest.mark.parametrize("layer", ["lake/cdf.py", "lake/stream_source.py"])
def test_commit_readers_go_through_the_log(layer):
    assert _violations(layer, LOG_PLUMBING) == []


def test_scan_sees_function_local_and_relative_imports(tmp_path):
    """The scan itself: a lazy import inside a function and a relative
    import are both reported."""
    pkg = tmp_path / PKG
    (pkg / "lake").mkdir(parents=True)
    (pkg / "lake" / "__init__.py").write_text("")
    (pkg / "lake" / "m.py").write_text(
        "def f():\n"
        "    from ecommerce_lakehouse_spark.queries.llm2 import x\n"
        "from ..pipelines import curation\n"
        "def g():\n"
        "    from pyspark.sql import DataFrame\n"
    )
    assert _violations("lake", FORBIDDEN["lake"], root=pkg) == [
        f"{PKG}/lake/m.py:2 imports {PKG}.queries.llm2",
        f"{PKG}/lake/m.py:2 imports {PKG}.queries.llm2.x",
        f"{PKG}/lake/m.py:3 imports {PKG}.pipelines",
        f"{PKG}/lake/m.py:3 imports {PKG}.pipelines.curation",
    ]
    assert _violations("lake", (), root=pkg, outside=("pyspark",)) == [
        f"{PKG}/lake/m.py:5 imports pyspark.sql",
        f"{PKG}/lake/m.py:5 imports pyspark.sql.DataFrame",
    ]


def _calls(attr: str, files, root) -> list[str]:
    """``path:line`` of every ``<receiver>.<attr>(...)`` call in
    ``files`` whose receiver is not ``os.path``."""
    out = []
    for f in files:
        for node in ast.walk(ast.parse(f.read_text(), str(f))):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == attr
                and ast.unparse(node.func.value) != "os.path"
            ):
                out.append(f"{f.relative_to(root.parent)}:{node.lineno}")
    return out


def _last_txn_calls(root=ROOT) -> list[str]:
    """Every ``.last_txn(`` call in the package outside ``lake/``."""
    files = [f for f in sorted(root.rglob("*.py")) if (root / "lake") not in f.parents]
    return _calls("last_txn", files, root)


def _table_exists_calls(root=ROOT) -> list[str]:
    """Every ``.exists()`` call in ``streaming/`` but ``os.path.exists``."""
    return _calls("exists", sorted((root / "streaming").rglob("*.py")), root)


def test_no_replay_guard_outside_lake(tmp_path):
    assert _last_txn_calls() == []
    pkg = tmp_path / PKG
    for sub in ("lake", "streaming"):
        (pkg / sub).mkdir(parents=True)
        (pkg / sub / "m.py").write_text("def f(t):\n    return t.last_txn('a')\n")
    assert _last_txn_calls(root=pkg) == [f"{PKG}/streaming/m.py:2"]


def test_no_fresh_table_branch_in_streaming(tmp_path):
    assert _table_exists_calls() == []
    pkg = tmp_path / PKG
    (pkg / "streaming").mkdir(parents=True)
    (pkg / "streaming" / "m.py").write_text(
        "import os\n\ndef f(t, p):\n    return os.path.exists(p) or t.exists()\n"
    )
    assert _table_exists_calls(root=pkg) == [f"{PKG}/streaming/m.py:4"]

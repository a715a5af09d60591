"""No dead private names: every module-level ``_private`` function,
class or constant in ``shaper_spark/`` is named somewhere besides its
own definition (the package, the tests, the benchmark,
``__spark_entry__.py`` or ``bench.py``). Pure Python: nothing here
starts Spark."""

import ast
import re
from collections import Counter
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "shaper_spark"
SOURCES = [
    *PACKAGE.rglob("*.py"),
    *(ROOT / "tests").rglob("*.py"),
    *(ROOT / "perfbench").rglob("*.py"),
    ROOT / "__spark_entry__.py",
    ROOT / "bench.py",
]


def _private_definitions(tree: ast.Module) -> list[str]:
    names = []
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            names.append(node.name)
        elif isinstance(node, ast.Assign):
            names.extend(t.id for t in node.targets if isinstance(t, ast.Name))
        elif isinstance(node, ast.AnnAssign) and isinstance(node.target, ast.Name):
            names.append(node.target.id)
    return [n for n in names if n.startswith("_") and not n.startswith("__")]


def test_every_private_name_is_used():
    words = Counter(
        w for p in SOURCES if p.exists()
        for w in re.findall(r"[A-Za-z_]\w*", p.read_text())
    )
    dead = [
        f"{path.relative_to(ROOT)}: {name}"
        for path in sorted(PACKAGE.rglob("*.py"))
        for name in _private_definitions(ast.parse(path.read_text()))
        if words[name] <= 1
    ]
    assert dead == []

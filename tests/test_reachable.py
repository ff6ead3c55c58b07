"""Every top-level def in `prclz_spark/` is reached from an entry point (the
CLI, `__spark_entry__`, `bench*.py`, `perfbench/`, `tools/`) or from a
module-level statement, through the bodies of the defs it reaches; the
rest must be a test reference listed here or be deleted (ROADMAP G)."""

import ast
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
ENTRY = ["prclz_spark/cli.py", "__spark_entry__.py", "bench.py", "bench_extra.py",
         "perfbench/*.py", "tools/*.py"]
TEST_REFERENCES = {
    "st_boundary": "DJI replay analogue (boundary-line centroids)",
    "representative_point": "DJI replay analogue (label-point centroids)",
    "_snap": "grid-snap reference the noder tests compare against",
    "cell_bounds": "cell oracle (a point lies in its cell's bounds)",
    "disk": "cell oracle (ring sizes of the cell disk)",
    "hamming64": "phash oracle (near and far image distances)",
    "mix_strata_tokens_windowed": "windowed reference for mix_strata_tokens",
}


def _refs(node: ast.AST) -> set:
    """Names, attribute names, import aliases and `\\w+` string constants."""
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.update(n.name.split(".") + [n.asname or ""])
        elif isinstance(n, ast.Constant) and isinstance(n.value, str):
            out.update(re.findall(r"^\w+$", n.value))
    return out


def test_every_def_is_reached_from_an_entry_point():
    bodies: dict = {}  # def name -> names its body references
    reached = set()
    for path in sorted((ROOT / "prclz_spark").rglob("*.py")):
        for stmt in ast.parse(path.read_text()).body:
            if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                bodies.setdefault(stmt.name, set()).update(_refs(stmt))
            else:
                reached |= _refs(stmt)
    for path in (p for pattern in ENTRY for p in ROOT.glob(pattern)):
        reached |= _refs(ast.parse(path.read_text()))
    todo = list(reached & bodies.keys())
    while todo:
        new = bodies[todo.pop()] - reached
        reached |= new
        todo.extend(new & bodies.keys())
    unreached = bodies.keys() - reached
    assert unreached == TEST_REFERENCES.keys(), sorted(unreached ^ TEST_REFERENCES.keys())

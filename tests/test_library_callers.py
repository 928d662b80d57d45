"""Guard against library surfaces that only tests call.

Every top-level `def` or `class` in `honas_spark/` must be referenced,
as a whole word, somewhere in non-test code outside its own body.
Non-test code is `honas_spark/`, `__spark_entry__.py`, `bench.py`,
`tools/` and `perfbench/` (without `perfbench/tests`).  Import lines and
`__all__` in an `__init__.py` are re-exports, not callers, so they do
not count.  Pure text scan: nothing is imported or run."""

import ast
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "honas_spark"

# name -> why it stays without a non-test caller
ALLOWED = {
    "StreamingSketchBuilder": "the library analogue of the honas-gather daemon",
    "number_of_combinations": "the frozen golden test pins the reference's value",
}


def _non_test_files() -> list[Path]:
    files = sorted(PACKAGE.rglob("*.py"))
    files += [ROOT / "__spark_entry__.py", ROOT / "bench.py"]
    files += sorted((ROOT / "tools").rglob("*.py"))
    files += sorted(
        p for p in (ROOT / "perfbench").rglob("*.py")
        if "tests" not in p.relative_to(ROOT / "perfbench").parts
    )
    return files


def _reexport_lines(tree: ast.Module) -> set[int]:
    """Line numbers of imports and `__all__` assignments at module level."""
    lines: set[int] = set()
    for node in tree.body:
        is_all = isinstance(node, ast.Assign) and any(
            isinstance(t, ast.Name) and t.id == "__all__" for t in node.targets
        )
        if isinstance(node, (ast.Import, ast.ImportFrom)) or is_all:
            lines.update(range(node.lineno, node.end_lineno + 1))
    return lines


def _scan() -> tuple[list[str], set[str]]:
    """-> (unreferenced definitions as "path:line name", all names defined)."""
    texts: dict[Path, list[str]] = {}
    definitions = []  # (name, path, first line, last line), 1-based
    for path in _non_test_files():
        src = path.read_text()
        tree = ast.parse(src)
        lines = src.splitlines()
        if path.name == "__init__.py":
            for n in _reexport_lines(tree):
                lines[n - 1] = ""
        texts[path] = lines
        if PACKAGE in path.parents:
            for node in tree.body:
                if isinstance(
                    node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
                ):
                    first = min(
                        [node.lineno] + [d.lineno for d in node.decorator_list]
                    )
                    definitions.append(
                        (node.name, path, first, node.end_lineno)
                    )
    unused = []
    for name, home, first, last in definitions:
        if name in ALLOWED:
            continue
        word = re.compile(rf"\b{re.escape(name)}\b")
        used = any(
            word.search(line)
            for path, lines in texts.items()
            for i, line in enumerate(lines, start=1)
            if not (path == home and first <= i <= last)
        )
        if not used:
            unused.append(f"{home.relative_to(ROOT)}:{first} {name}")
    return unused, {d[0] for d in definitions}


def test_every_library_definition_has_a_non_test_caller():
    unused, defined = _scan()
    assert set(ALLOWED) <= defined, f"stale allowlist: {set(ALLOWED) - defined}"
    assert not unused, (
        "top-level definitions that only tests reference (delete them, or "
        "add a caller):\n  " + "\n  ".join(unused)
    )

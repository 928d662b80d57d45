"""Guard against library surfaces that only tests call.

Every top-level `def` or `class` in `honas_spark/` must be referenced
in code -- an `ast` Name or Attribute node -- somewhere in non-test code
outside its own body.  Non-test code is `honas_spark/`,
`__spark_entry__.py`, `bench.py`, `tools/` and `perfbench/` (without
`perfbench/tests`).  Comments, docstrings and strings are not code, and
import lines and `__all__` hold no Name or Attribute reference to the
names they re-export, so none of them counts as a caller.  Pure syntax
scan: nothing is imported or run."""

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "honas_spark"

# name -> why it stays without a non-test caller
ALLOWED = {
    "StreamingSketchBuilder": "the library analogue of the honas-gather daemon",
    "number_of_combinations": "the frozen golden test pins the reference's value",
    "murmur64a": "the scalar reference the vectorized kernel's tests compare against",
    "lsh_params": "four operators' invalid-(bands, rows) errors tell users to call it",
    "ip6_aton": "the only parser from IPv6 text to cidr_longest_prefix_join6's input",
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


def _scan() -> tuple[list[str], set[str]]:
    """-> (unreferenced definitions as "path:line name", all names defined)."""
    refs = []  # (name, path, line) of every Name / Attribute node
    definitions = []  # (name, path, first line, last line), 1-based
    for path in _non_test_files():
        tree = ast.parse(path.read_text())
        for node in ast.walk(tree):
            if isinstance(node, ast.Name):
                refs.append((node.id, path, node.lineno))
            elif isinstance(node, ast.Attribute):
                refs.append((node.attr, path, node.lineno))
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
        used = any(
            ref == name and not (path == home and first <= line <= last)
            for ref, path, line in refs
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

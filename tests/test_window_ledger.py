"""Driver-window rotation guard (VERDICT r4 Next-round #8).

The correctness harness verifies only the FIRST 50 entries of queries().
Rounds 3 and 4 both ended with hash-oracled queries that had NEVER received
a driver CORRECTNESS row because they were registered below that window.
This test makes the failure mode structural: every hash-oracled query with
no green driver row in any git-tracked CORRECTNESS_r*.json MUST sit inside
the current window, so it is guaranteed a row on the next driver run. Adding
a new oracle query without front-loading it into _DRIVER_WINDOW_50
fails here immediately.
"""

import ast
import glob
import json
import pathlib
import subprocess

DRIVER_WINDOW = 50
ROOT = pathlib.Path(__file__).resolve().parent.parent


def _driver_green() -> set[str]:
    green = set()
    for path in sorted(glob.glob(str(ROOT / "CORRECTNESS_r*.json"))):
        with open(path) as f:
            rows = json.load(f)
        for name, row in rows.items():
            if isinstance(row, dict) and row.get("hash_match"):
                green.add(name)
    return green


def test_every_unverified_hash_query_is_in_window():
    import __spark_entry__ as e

    ordered = list(e.queries())
    oracles = e.oracle_sql()
    window = set(ordered[:DRIVER_WINDOW])
    green = _driver_green()

    never_checked = [
        n for n in ordered if n in oracles and n not in green and n not in window
    ]
    assert not never_checked, (
        f"hash-oracled queries with no driver CORRECTNESS row sit OUTSIDE the "
        f"first-{DRIVER_WINDOW} window and would go unverified again: "
        f"{never_checked} — front-load them in _DRIVER_WINDOW_50"
    )


def test_window_has_no_unknown_names():
    """Window entries must resolve to registered queries — a typo here
    silently shrinks the verified set."""
    import __spark_entry__ as e

    missing = [n for n in e._DRIVER_WINDOW_50 if n not in e.queries()]
    assert not missing, missing


def test_window_list_is_exactly_the_driver_window():
    """ADVICE r13 #1: the old in-comment 'budget line' marker drifted off by
    one. The window is now a dedicated list; this pins the structural
    invariants so rotations edited against it cannot miscount again."""
    import __spark_entry__ as e

    assert len(e._DRIVER_WINDOW_50) == DRIVER_WINDOW
    assert len(set(e._DRIVER_WINDOW_50)) == DRIVER_WINDOW, "duplicates in window"
    assert list(e.queries())[:DRIVER_WINDOW] == e._DRIVER_WINDOW_50, (
        "queries() first-50 must be exactly _DRIVER_WINDOW_50"
    )


# --------------------------------------------------------------------------
# Package structure (static, AST only): modules are named after their
# domain, share names only through public imports, and bind each top-level
# name once — merging two modules must not silently rebind a constant that
# a query reads
# --------------------------------------------------------------------------
PKG = ROOT / "duckdb_ner_spark"


def _package_modules() -> list[pathlib.Path]:
    return sorted(PKG.rglob("*.py"))


def _bound_names(node: ast.stmt) -> list[str]:
    if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return [node.name]
    if isinstance(node, (ast.Import, ast.ImportFrom)):
        return [(a.asname or a.name).split(".")[0] for a in node.names]
    if isinstance(node, ast.Assign):
        targets = node.targets
    elif isinstance(node, ast.AnnAssign):
        targets = [node.target]
    else:
        return []
    return [n.id for t in targets for n in ast.walk(t) if isinstance(n, ast.Name)]


def test_no_package_module_is_named_after_a_round():
    rounds = [
        str(p.relative_to(PKG)) for p in _package_modules() if p.name.startswith("round")
    ]
    assert not rounds, f"name these modules after their domain: {rounds}"


def test_no_relative_import_of_a_private_name():
    bad = [
        f"{p.relative_to(PKG)}:{node.lineno} {alias.name}"
        for p in _package_modules()
        for node in ast.walk(ast.parse(p.read_text()))
        if isinstance(node, ast.ImportFrom) and node.level
        for alias in node.names
        if alias.name.startswith("_") and not alias.name.startswith("__")
    ]
    assert not bad, f"make these public or keep them in one module: {bad}"


def test_no_package_module_imports_a_repo_script():
    """The package stands alone: tools/, bench.py and perfbench/ import it,
    never the reverse."""
    scripts = ("tools", "bench", "perfbench")
    bad = [
        f"{p.relative_to(PKG)}:{node.lineno}"
        for p in _package_modules()
        for node in ast.walk(ast.parse(p.read_text()))
        for mod in (
            [a.name for a in node.names] if isinstance(node, ast.Import)
            else [node.module or ""] if isinstance(node, ast.ImportFrom) and not node.level
            else []
        )
        if mod.split(".")[0] in scripts
    ]
    assert not bad, f"move what these import into the package: {bad}"


def test_no_module_binds_a_top_level_name_twice():
    bad = []
    for p in _package_modules():
        seen: set[str] = set()
        for node in ast.parse(p.read_text()).body:
            for name in _bound_names(node):
                if name in seen:
                    bad.append(f"{p.relative_to(PKG)}:{node.lineno} {name}")
                seen.add(name)
    assert not bad, f"top-level names bound twice: {bad}"


# --------------------------------------------------------------------------
# Every entry point imports its own checkout: a tool, test or example run
# from a second copy must exercise that copy's package, so no tracked file
# names a checkout's absolute path or puts a literal path on sys.path
# --------------------------------------------------------------------------
def _tracked_py_files() -> list[pathlib.Path]:
    try:
        out = subprocess.run(
            ["git", "ls-files", "*.py"], cwd=ROOT, capture_output=True, text=True, check=True
        ).stdout
    except (OSError, subprocess.CalledProcessError):  # an exported copy has no .git
        return sorted(
            p for p in ROOT.rglob("*.py")
            if not any(part.startswith(".") for part in p.relative_to(ROOT).parts)
        )
    return [ROOT / line for line in out.splitlines()]


def test_no_tracked_file_names_its_checkout_path():
    here = str(ROOT)
    bad = [str(p.relative_to(ROOT)) for p in _tracked_py_files() if here in p.read_text()]
    assert not bad, f"derive the checkout root from __file__ instead: {bad}"


def test_no_literal_path_is_put_on_sys_path():
    bad = [
        f"{p.relative_to(ROOT)}:{node.lineno}"
        for p in _tracked_py_files()
        for node in ast.walk(ast.parse(p.read_text()))
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr in ("insert", "append")
        and ast.unparse(node.func.value) == "sys.path"
        and any(isinstance(a, ast.Constant) and isinstance(a.value, str) for a in node.args)
    ]
    assert not bad, f"derive sys.path entries from __file__: {bad}"

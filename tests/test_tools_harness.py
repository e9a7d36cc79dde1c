"""bench.py is the one Spark session and timing harness of the tools
(static checks, no Spark): one session builder, in bench.py, and no
tool that runs anything when imported."""

import ast
import glob
import os

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH = os.path.join(REPO, "bench.py")
TOOLS = sorted(glob.glob(os.path.join(REPO, "tools", "*.py")))

# the calls a tool may make at import: its constants read the
# environment and build paths, and its sys.path line lets it import
# bench.py and the package when run as a script
IMPORT_TIME_CALLS = {
    "os.environ.get",
    "os.path.abspath",
    "os.path.dirname",
    "os.path.join",
    "sys.path.insert",
}


def _parse(path):
    with open(path) as f:
        return ast.parse(f.read())


def test_one_session_builder_and_it_is_in_bench():
    hits = []
    for path in [BENCH, *TOOLS]:
        with open(path) as f:
            hits += [
                (os.path.relpath(path, REPO), n)
                for n, line in enumerate(f, 1)
                if "SparkSession.builder" in line
            ]
    assert len(hits) == 1 and hits[0][0] == "bench.py", hits


def test_importing_bench_imports_no_pyspark():
    for stmt in _parse(BENCH).body:
        if isinstance(stmt, ast.Import):
            names = [a.name for a in stmt.names]
        elif isinstance(stmt, ast.ImportFrom):
            names = [stmt.module or ""]
        else:
            continue
        assert not any(n.split(".")[0] == "pyspark" for n in names), names


def _runs_at_import(stmt) -> bool:
    if isinstance(
        stmt, (ast.Import, ast.ImportFrom, ast.FunctionDef, ast.ClassDef)
    ):
        return False
    if isinstance(stmt, ast.If):
        return ast.unparse(stmt.test) != "__name__ == '__main__'"
    if isinstance(stmt, (ast.Assign, ast.AnnAssign, ast.Expr)):
        return any(
            ast.unparse(n.func) not in IMPORT_TIME_CALLS
            for n in ast.walk(stmt)
            if isinstance(n, ast.Call)
        )
    return True


@pytest.mark.parametrize("path", TOOLS, ids=os.path.basename)
def test_tool_runs_nothing_at_import(path):
    """Imports, defs, constants and the __main__ guard only: a tool that
    starts Spark or does its work at import cannot be imported by
    another tool or a test."""
    bad = [
        f"line {s.lineno}: {ast.unparse(s).splitlines()[0]}"
        for s in _parse(path).body
        if _runs_at_import(s)
    ]
    assert not bad, bad

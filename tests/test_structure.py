"""Structural guards: the package keeps ONE thread pool (``run_overlapped``)
and ONE optimistic-concurrency retry loop (``LakeTable._commit``), so every
overlapped Spark job and every commit goes through the same drained,
property-inheriting, abort-on-failure path; and ONE upsert planner
(``operators/merge.py:_plan``), so every upsert sink that reads existing
files answers "which rows of which files does this batch hit?" the same
way; and ONE pruning model (``lakehouse/pruning.py``), so every planner
reads manifest bounds with the same typed comparisons.  File identity in
the table and operator layers comes from the scan's deterministic
``_metadata`` column, never ``input_file_name()``, which stops filter
pushdown.  The v3 position stage merges deletion vectors on the driver,
with no Spark write or read of the vectors."""

import ast
import pathlib

PKG = pathlib.Path(__file__).resolve().parents[1] / "debezium_server_iceberg_spark"


def _names(node) -> set:
    if isinstance(node, ast.Name):
        return {node.id}
    if isinstance(node, ast.Attribute):
        return {node.attr}
    if isinstance(node, ast.Tuple):
        return set().union(*map(_names, node.elts))
    return set()


def _sites(match) -> list:
    """(module, enclosing def/class path) of every node ``match`` accepts."""
    out = []

    def visit(node, scope, module):
        for child in ast.iter_child_nodes(node):
            inner = scope
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                inner = scope + (child.name,)
            if match(child):
                out.append((module, ".".join(inner)))
            visit(child, inner, module)

    for path in sorted(PKG.rglob("*.py")):
        visit(ast.parse(path.read_text(), str(path)), (), path.relative_to(PKG).as_posix())
    return out


def test_one_thread_pool():
    pools = _sites(
        lambda n: isinstance(n, ast.Call) and "ThreadPoolExecutor" in _names(n.func)
    )
    assert pools == [("session.py", "run_overlapped")]


def test_one_commit_retry_loop():
    loops = _sites(
        lambda n: isinstance(n, ast.ExceptHandler)
        and "CommitConflict" in _names(n.type)
    )
    assert loops == [("lakehouse/table.py", "LakeTable._commit")]


def test_one_upsert_planner():
    def planner_call(n) -> bool:
        if not isinstance(n, ast.Call):
            return False
        if isinstance(n.func, ast.Attribute) and n.func.attr == "agg":
            return True
        return any(
            isinstance(a, ast.Constant) and a.value == "left_semi"
            for a in [*n.args, *(kw.value for kw in n.keywords)]
        )

    sites = [s for s in _sites(planner_call) if s[0] == "operators/merge.py"]
    assert len(sites) == 2 and set(sites) == {("operators/merge.py", "_plan")}


def test_one_pruning_model():
    def reads_bounds(n) -> bool:
        if isinstance(n, ast.Subscript):
            owner = n.value
        elif isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute) and n.func.attr == "get":
            owner = n.func.value
        else:
            return False
        return isinstance(owner, ast.Attribute) and owner.attr == "bounds"

    sites = _sites(reads_bounds)
    assert sites and {module for module, _ in sites} == {"lakehouse/pruning.py"}


def test_no_input_file_name():
    uses = [
        path.relative_to(PKG).as_posix()
        for sub in ("lakehouse", "operators")
        for path in sorted((PKG / sub).rglob("*.py"))
        if "input_file_name(" in path.read_text()
    ]
    assert uses == []


def test_position_stage_merges_on_the_driver():
    path = PKG / "lakehouse" / "table.py"
    text = path.read_text()
    (stage,) = [
        n for n in ast.walk(ast.parse(text))
        if isinstance(n, ast.FunctionDef) and n.name == "stage_position_deletes"
    ]
    src = ast.get_source_segment(text, stage)
    assert "coalesce(" not in src and "_vector_rows" not in src

"""Source-structure pins, read from the ast: no Spark needed.

Every streaming query the engine starts goes through stream.py
(`stream.drain` or `stream.run_to_sink`), so a per-epoch hook added
there sees every drain. The tests and scripts drain through it too, and
read progress and plans off the query it returns, except where they
need a query a drain does not run (OWN_QUERY_START).
"""

import ast
import glob
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(REPO, "src", "glcmstream")

# The top-level functions of tests/ and scripts/ that start a query with
# their own `writeStream`, by what `stream.drain` cannot run.
OWN_QUERY_START = {
    # a query that keeps running while new commits land
    ("tests/test_iceberg.py",
     "test_incremental_stream_read_picks_up_new_commits"),
    # a query stopped after its first epoch
    ("scripts/cold_start.py", "child"),
    # the noop sink, whose drain it measures
    ("scripts/worker_init.py", "child"),
}


def _trees() -> dict[str, ast.Module]:
    trees = {}
    for path in sorted(glob.glob(os.path.join(PKG, "*.py"))):
        with open(path) as f:
            trees[os.path.basename(path)] = ast.parse(f.read(), path)
    return trees


def _write_stream(node: ast.AST) -> bool:
    return isinstance(node, ast.Attribute) and node.attr == "writeStream"


def test_write_stream_only_in_stream_module():
    starts = {(name, node.lineno)
              for name, tree in _trees().items()
              for node in ast.walk(tree)
              if _write_stream(node)}
    assert starts, "stream.py no longer starts a streaming query"
    assert {name for name, _ in starts} == {"stream.py"}, sorted(starts)


def test_queries_keeps_no_private_drain_or_source():
    tree = _trees()["queries.py"]
    defined = {node.name for node in ast.walk(tree)
               if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))}
    assert not defined & {"_run_stream_to_memory", "_derived_pages_stream"}


def _by_top_level_def(tree: ast.Module, match) -> dict[str | None, int]:
    """Count the nodes `match` accepts under each top-level function of
    `tree` (nested functions count for the def that holds them; None
    for module-level code)."""
    out: dict[str | None, int] = {}
    for top in tree.body:
        owner = top.name if isinstance(top, ast.FunctionDef) else None
        for node in ast.walk(top):
            if match(node):
                out[owner] = out.get(owner, 0) + 1
    return out


def test_tests_and_scripts_start_queries_through_drain():
    """A test or script starts a query with its own `writeStream` only in
    a function of OWN_QUERY_START; every other query drains through
    stream.py. Each allowlisted function still starts one, so the list
    shrinks when a function moves to the drain."""
    own: dict[str, int] = {}
    listed = set()
    for path in sorted(glob.glob(os.path.join(REPO, "tests", "*.py"))
                       + glob.glob(os.path.join(REPO, "scripts", "*.py"))):
        rel = os.path.relpath(path, REPO)
        with open(path) as f:
            tree = ast.parse(f.read(), path)
        for owner, n in _by_top_level_def(tree, _write_stream).items():
            if (rel, owner) in OWN_QUERY_START:
                listed.add((rel, owner))
            else:
                own[f"{rel}::{owner}"] = n
    assert not own, (sum(own.values()), own)
    assert listed == OWN_QUERY_START


def test_queries_session_policy_only_in_register():
    """The registry's session policy lives in `register`'s wrapper: it
    ships the package and sets the child's confs. A body only narrows
    its own child's width through `_drain_width`."""
    tree = _trees()["queries.py"]

    def conf_set(node):
        return (isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "set"
                and isinstance(node.func.value, ast.Attribute)
                and node.func.value.attr == "conf")

    def pyfiles(node):
        return (isinstance(node, ast.Call)
                and isinstance(node.func, ast.Name)
                and node.func.id == "ensure_pyfiles")

    assert set(_by_top_level_def(tree, conf_set)) == {"register",
                                                      "_drain_width"}
    assert _by_top_level_def(tree, pyfiles) == {"register": 1}


def test_queries_bodies_do_not_look_up_the_registry():
    """A query body calls other bodies as plain functions: a
    `QUERIES[...]` lookup would run the callee in a second child
    session and build one plan from two sessions."""
    tree = _trees()["queries.py"]

    def lookup(node):
        return (isinstance(node, ast.Subscript)
                and isinstance(node.value, ast.Name)
                and node.value.id == "QUERIES")

    assert set(_by_top_level_def(tree, lookup)) <= {"register",
                                                    "_reorder_registry"}


def test_state_hands_one_state_function_factory_to_spark():
    """Every stateful builder runs the same state function: state.py
    calls applyInPandasWithState once, with a call of the one factory
    that defines a GroupState function."""
    tree = _trees()["state.py"]
    calls = [node for node in ast.walk(tree)
             if isinstance(node, ast.Call)
             and isinstance(node.func, ast.Attribute)
             and node.func.attr == "applyInPandasWithState"]
    assert len(calls) == 1, [c.lineno for c in calls]
    fn = calls[0].args[0]
    assert isinstance(fn, ast.Call) and isinstance(fn.func, ast.Name), \
        ast.unparse(fn)

    def takes_group_state(node):
        return (isinstance(node, ast.FunctionDef)
                and any(a.annotation is not None
                        and ast.unparse(a.annotation) == "GroupState"
                        for a in node.args.args))

    factories = {top.name for top in tree.body
                 if isinstance(top, ast.FunctionDef)
                 and any(takes_group_state(n) for n in ast.walk(top)
                         if n is not top)}
    assert factories == {fn.func.id}, sorted(factories)

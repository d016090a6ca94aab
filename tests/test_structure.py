"""Source-structure pins, read from the ast: no Spark needed.

Every streaming query the engine starts goes through stream.py
(`stream.drain` or `stream.run_to_sink`), so a per-epoch hook added
there sees every drain.
"""

import ast
import glob
import os

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(
    __file__))), "src", "glcmstream")


def _trees() -> dict[str, ast.Module]:
    trees = {}
    for path in sorted(glob.glob(os.path.join(PKG, "*.py"))):
        with open(path) as f:
            trees[os.path.basename(path)] = ast.parse(f.read(), path)
    return trees


def test_write_stream_only_in_stream_module():
    starts = {(name, node.lineno)
              for name, tree in _trees().items()
              for node in ast.walk(tree)
              if isinstance(node, ast.Attribute)
              and node.attr == "writeStream"}
    assert starts, "stream.py no longer starts a streaming query"
    assert {name for name, _ in starts} == {"stream.py"}, sorted(starts)


def test_queries_keeps_no_private_drain_or_source():
    tree = _trees()["queries.py"]
    defined = {node.name for node in ast.walk(tree)
               if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))}
    assert not defined & {"_run_stream_to_memory", "_derived_pages_stream"}

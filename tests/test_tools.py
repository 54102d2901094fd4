"""The scripts under tools/ run from any checkout of the repo."""

import ast
import glob
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _absolute_sys_path_entries(path):
    """(line, literal) of every absolute path literal `path` puts on
    sys.path with `sys.path.insert` or `sys.path.append`."""
    with open(path) as f:
        tree = ast.parse(f.read(), path)
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr in ("insert", "append")
            and ast.unparse(node.func.value) == "sys.path"
        ):
            for arg in node.args:
                if (
                    isinstance(arg, ast.Constant)
                    and isinstance(arg.value, str)
                    and os.path.isabs(arg.value)
                ):
                    yield node.lineno, arg.value


def test_tools_derive_the_repo_root_from_their_own_path():
    """No tool pins a checkout path on sys.path: each derives the repo root
    from `__file__`, so it imports the checkout it lives in."""
    scripts = glob.glob(os.path.join(REPO, "tools", "**", "*.py"), recursive=True)
    assert scripts
    pinned = [
        (os.path.relpath(p, REPO), line, lit)
        for p in sorted(scripts)
        for line, lit in _absolute_sys_path_entries(p)
    ]
    assert pinned == []

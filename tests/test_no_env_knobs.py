"""Guard against engine env knobs: behaviour is the code's default, not a
switch read from the environment. The only ``NIMBUS_*`` reads allowed in the
package are the two that the frozen ``bench.py`` sets for its scaling
subprocess (``plans/scalerun.py``)."""

import ast
from pathlib import Path

import nimbus_crawler_spark

ALLOWED = {"NIMBUS_SCALE_PARSE", "NIMBUS_SCALE_DRIVER_CORE"}


def _env_reads(tree: ast.AST):
    """(line, name) for every ``os.environ[...]`` / ``os.environ.get(...)`` /
    ``os.getenv(...)``-style access whose key is a ``NIMBUS_*`` literal."""
    for node in ast.walk(tree):
        if isinstance(node, ast.Subscript):
            target, key = node.value, node.slice
        elif isinstance(node, ast.Call) and node.args:
            target, key = node.func, node.args[0]
        else:
            continue
        if not (isinstance(key, ast.Constant) and isinstance(key.value, str)):
            continue
        if key.value.startswith("NIMBUS_") and (
            "environ" in ast.unparse(target) or "getenv" in ast.unparse(target)
        ):
            yield node.lineno, key.value


def test_only_allowed_nimbus_env_reads():
    root = Path(nimbus_crawler_spark.__file__).parent
    found = []
    for path in sorted(root.rglob("*.py")):
        for line, name in _env_reads(ast.parse(path.read_text(), str(path))):
            found.append((str(path.relative_to(root)), line, name))
    assert found, "scan found no env reads at all — the scanner is broken"
    assert [f for f in found if f[2] not in ALLOWED] == []

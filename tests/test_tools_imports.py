"""The scripts under tools/ stay importable against the engine.

Every ``from pypeln_spark... import name`` in a tools/*.py file — at module
level or inside a function — must name something the engine module still
defines, and every ``tools.x`` import must name a script that still exists
and defines what is imported. Runs without a Spark session: engine modules
are imported, scripts are only parsed.
"""

import ast
import importlib
import importlib.util
import os

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TOOLS = os.path.join(REPO, "tools")
SCRIPTS = sorted(f for f in os.listdir(TOOLS) if f.endswith(".py"))


def _imports(path):
    """(module, name or None) for every absolute import in ``path``."""
    with open(path) as f:
        tree = ast.parse(f.read(), path)
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for a in node.names:
                yield a.name, None
        elif isinstance(node, ast.ImportFrom) and node.level == 0:
            for a in node.names:
                yield node.module, a.name


def _script_names(script):
    """Top-level names a tools/ script defines, read without running it."""
    with open(os.path.join(TOOLS, script + ".py")) as f:
        tree = ast.parse(f.read())
    names = set()
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            names.add(node.name)
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            names |= {
                n.id for t in targets for n in ast.walk(t) if isinstance(n, ast.Name)
            }
        elif isinstance(node, (ast.Import, ast.ImportFrom)):
            names |= {(a.asname or a.name).split(".")[0] for a in node.names}
    return names


def _engine_resolves(module, name):
    try:
        if importlib.util.find_spec(module) is None:
            return False
    except ModuleNotFoundError:  # a missing parent package
        return False
    if name is None or name == "*":
        return True
    mod = importlib.import_module(module)
    if hasattr(mod, name):
        return True
    return (
        hasattr(mod, "__path__")
        and importlib.util.find_spec(f"{module}.{name}") is not None
    )


def _tools_resolves(module, name):
    parts = module.split(".")
    if parts == ["tools"]:
        return name is None or os.path.exists(os.path.join(TOOLS, f"{name}.py"))
    if len(parts) != 2 or not os.path.exists(os.path.join(TOOLS, f"{parts[1]}.py")):
        return False
    return name is None or name == "*" or name in _script_names(parts[1])


def _unresolved(path):
    """(module, name) of every engine or tools import in ``path`` that
    does not resolve."""
    out = []
    for module, name in _imports(path):
        top = module.split(".")[0]
        if top == "pypeln_spark" and not _engine_resolves(module, name):
            out.append((module, name))
        elif top == "tools" and not _tools_resolves(module, name):
            out.append((module, name))
    return out


@pytest.mark.parametrize("script", SCRIPTS)
def test_tool_imports_resolve(script):
    assert _unresolved(os.path.join(TOOLS, script)) == []


def test_guard_catches_a_removed_name(tmp_path):
    """The checker flags an import of a name the engine no longer has."""
    bad = tmp_path / "bad.py"
    bad.write_text(
        "def main():\n"
        "    from pypeln_spark.queries.streaming import no_such_helper\n"
        "    import tools.no_such_script\n"
    )
    assert _unresolved(str(bad)) == [
        ("pypeln_spark.queries.streaming", "no_such_helper"),
        ("tools.no_such_script", None),
    ]

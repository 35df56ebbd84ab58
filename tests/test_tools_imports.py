"""The scripts under tools/ and perfbench/ stay importable against the
engine.

Every ``from pypeln_spark... import name`` in a tools/*.py or perfbench/*.py
file — at module level or inside a function — must name something the
engine module still defines, and every ``tools.x`` / ``perfbench.x`` import
must name a script that still exists and defines what is imported. The
index methods perfbench's tracer wraps by name must exist too. Runs without
a Spark session: engine modules are imported, scripts are only parsed.
"""

import ast
import importlib
import importlib.util
import os

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TOOLS = os.path.join(REPO, "tools")
SCRIPTS = sorted(f for f in os.listdir(TOOLS) if f.endswith(".py"))
PERFBENCH = os.path.join(REPO, "perfbench")
BENCH_SCRIPTS = sorted(f for f in os.listdir(PERFBENCH) if f.endswith(".py"))


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


def _script_names(package, script):
    """Top-level names a tools/ or perfbench/ script defines, read without
    running it."""
    with open(os.path.join(REPO, package, script + ".py")) as f:
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


def _script_resolves(module, name):
    parts = module.split(".")
    pkg = os.path.join(REPO, parts[0])
    if len(parts) == 1:
        return name is None or os.path.exists(os.path.join(pkg, f"{name}.py"))
    if len(parts) != 2 or not os.path.exists(os.path.join(pkg, f"{parts[1]}.py")):
        return False
    return name is None or name == "*" or name in _script_names(*parts)


def _unresolved(path):
    """(module, name) of every engine, tools or perfbench import in
    ``path`` that does not resolve."""
    out = []
    for module, name in _imports(path):
        top = module.split(".")[0]
        if top == "pypeln_spark" and not _engine_resolves(module, name):
            out.append((module, name))
        elif top in ("tools", "perfbench") and not _script_resolves(module, name):
            out.append((module, name))
    return out


def _getattr_names(path, obj):
    """Every attribute name ``path`` hands to ``getattr(<obj>, …)``: a
    string literal, or the variable of an enclosing ``for`` over a literal
    tuple or list (of names, or of tuples holding the name at the
    variable's position). A name the parse cannot resolve fails."""
    with open(path) as f:
        tree = ast.parse(f.read(), path)
    loops = [n for n in ast.walk(tree) if isinstance(n, ast.For)]
    names = set()
    for call in ast.walk(tree):
        if not (
            isinstance(call, ast.Call) and isinstance(call.func, ast.Name)
            and call.func.id == "getattr" and len(call.args) >= 2
            and isinstance(call.args[0], ast.Name) and call.args[0].id == obj
        ):
            continue
        arg = call.args[1]
        if isinstance(arg, ast.Constant):
            names.add(arg.value)
            continue
        found = False
        for loop in loops:
            if not any(n is call for n in ast.walk(loop)):
                continue
            tup = isinstance(loop.target, ast.Tuple)
            targets = loop.target.elts if tup else [loop.target]
            pos = [
                i for i, t in enumerate(targets)
                if isinstance(t, ast.Name) and isinstance(arg, ast.Name)
                and t.id == arg.id
            ]
            if pos and isinstance(loop.iter, (ast.Tuple, ast.List)):
                for item in loop.iter.elts:
                    names.add((item.elts[pos[0]] if tup else item).value)
                found = True
        assert found, f"{path}:{call.lineno}: getattr({obj}, {ast.unparse(arg)})"
    return names


@pytest.mark.parametrize("script", SCRIPTS)
def test_tool_imports_resolve(script):
    assert _unresolved(os.path.join(TOOLS, script)) == []


@pytest.mark.parametrize("script", BENCH_SCRIPTS)
def test_perfbench_imports_resolve(script):
    assert _unresolved(os.path.join(PERFBENCH, script)) == []


def test_perfbench_wrapped_index_methods_exist():
    """perfbench's tracer wraps index methods by name (``--trace 1``); a
    renamed method would otherwise only surface as a failed traced run."""
    from pypeln_spark.ext.dedup import IncrementalLshIndex

    names = _getattr_names(os.path.join(PERFBENCH, "ann.py"), "index")
    assert names
    missing = [
        n for n in sorted(names)
        if not callable(getattr(IncrementalLshIndex, n, None))
    ]
    assert missing == []


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


def test_getattr_parse_finds_loop_names(tmp_path):
    """The wrapped-method check reads names from the loop that feeds
    ``getattr`` and refuses a name it cannot resolve."""
    ok = tmp_path / "ok.py"
    ok.write_text(
        "for method, span in (('absorb_gone', 'a'), ('compact', 'b')):\n"
        "    setattr(index, method, getattr(index, method))\n"
        "getattr(index, 'close')\n"
    )
    assert _getattr_names(str(ok), "index") == {"absorb_gone", "compact", "close"}
    bad = tmp_path / "bad.py"
    bad.write_text("getattr(index, pick_name())\n")
    with pytest.raises(AssertionError):
        _getattr_names(str(bad), "index")

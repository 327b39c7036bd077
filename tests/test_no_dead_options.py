"""Every defaulted parameter of a package function is set by some call.

A parameter that no call in the repository sets is a setting that the docs
describe and later changes must keep working, yet no workload reaches it.
The census is AST-only (no Spark session):

- every ``def`` in the package that has defaulted parameters, skipping
  names that more than one such ``def`` uses and dunder methods (which
  are not called by name);
- every ``Call`` in the repository's ``.py`` files (``perfbench/data``
  excluded), matched by bare or attribute name;
- a parameter counts as set if a call passes it by keyword, or passes at
  least as many positional arguments as its position;
- functions that any call invokes with ``*``/``**`` arguments are skipped.
"""
import ast
import functools
import pathlib
from collections import defaultdict

ROOT = pathlib.Path(__file__).resolve().parents[1]
PACKAGE = ROOT / "aws_pandas_etl_spark"

# Never set by any call, kept on purpose.
KEEP = {
    # the reference's two DDL dialects (red_schema parity)
    ("build_struct_type", "dialect"),
    ("build_struct_type", "normalize_names"),
    # entry point and deployment setting
    ("main", "argv"),
    ("setup_logger", "level"),
    # the source-reader surface mirrors Spark's own reader options
    ("load_tables", "names"),
    ("read_csv", "header"),
    ("read_orc", "schema"),
}


def _py_files():
    for p in sorted(ROOT.rglob("*.py")):
        rel = p.relative_to(ROOT).parts
        if rel[:2] == ("perfbench", "data") or any(s.startswith(".") for s in rel):
            continue
        yield p


def _defs():
    found = defaultdict(list)
    for p in sorted(PACKAGE.rglob("*.py")):
        for node in ast.walk(ast.parse(p.read_text())):
            if (
                isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
                and not node.name.startswith("__")
                and (node.args.defaults or any(d is not None for d in node.args.kw_defaults))
            ):
                found[node.name].append(node)
    return {name: defs[0] for name, defs in found.items() if len(defs) == 1}


def _calls():
    calls = defaultdict(list)
    for p in _py_files():
        is_test = p.relative_to(ROOT).parts[0] == "tests"
        for node in ast.walk(ast.parse(p.read_text())):
            if not isinstance(node, ast.Call):
                continue
            f = node.func
            name = f.id if isinstance(f, ast.Name) else f.attr if isinstance(f, ast.Attribute) else None
            if name:
                calls[name].append((node, is_test))
    return calls


@functools.cache
def census():
    """Return ``(never_set, test_only)``: sorted ``(function, parameter)`` pairs."""
    calls = _calls()
    never, test_only = [], []
    for name, fn in _defs().items():
        a = fn.args
        positional = [x.arg for x in a.posonlyargs + a.args]
        if positional and positional[0] in ("self", "cls"):
            positional = positional[1:]
        defaulted = positional[len(positional) - len(a.defaults):] if a.defaults else []
        defaulted += [k.arg for k, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None]
        sites = calls.get(name, [])
        if any(isinstance(x, ast.Starred) for c, _ in sites for x in c.args) or any(
            k.arg is None for c, _ in sites for k in c.keywords
        ):
            continue
        for param in defaulted:
            idx = positional.index(param) if param in positional else None
            setters = [
                is_test
                for c, is_test in sites
                if any(k.arg == param for k in c.keywords)
                or (idx is not None and len(c.args) > idx)
            ]
            if not setters:
                never.append((name, param))
            elif all(setters):
                test_only.append((name, param))
    return sorted(never), sorted(test_only)


def test_no_defaulted_parameter_is_never_set():
    never, _ = census()
    dead = [f"{fn}({p})" for fn, p in never if (fn, p) not in KEEP]
    assert not dead, f"{len(dead)} defaulted parameters no call sets: " + ", ".join(dead)


def test_keep_list_is_current():
    never, _ = census()
    assert KEEP <= set(never), sorted(KEEP - set(never))

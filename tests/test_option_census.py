"""The package's public keyword options stay counted.

An option that no caller sets is a configuration that no test or
benchmark runs. The census counts every default-valued and keyword-only
parameter of every public function and method in ``peregrine_spark``.
"""

import ast
from pathlib import Path

import peregrine_spark

MAX_OPTIONS = 111


def test_public_option_count_does_not_grow():
    """Raising ``MAX_OPTIONS`` needs a CHANGES.md line that names two
    non-test callers that need different values of the new option; with one
    value in use, the value is a constant."""
    root = Path(peregrine_spark.__file__).parent
    n = sum(
        len(f.args.defaults) + len(f.args.kwonlyargs)
        for p in root.rglob("*.py")
        for f in ast.walk(ast.parse(p.read_text()))
        if isinstance(f, ast.FunctionDef) and not f.name.startswith("_")
    )
    assert n <= MAX_OPTIONS, f"{n} public options, more than {MAX_OPTIONS}"

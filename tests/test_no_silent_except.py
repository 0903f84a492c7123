"""Tooling gate: failures are loud. No broad handler (bare ``except`` or
``except Exception``/``BaseException``) in the engine or the bench scripts
may consist of nothing but ``pass`` — log the failure, record it, or
narrow the exception type."""

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
_BROAD = {"Exception", "BaseException"}


def _is_broad(handler: ast.ExceptHandler) -> bool:
    t = handler.type
    if t is None:
        return True
    names = t.elts if isinstance(t, ast.Tuple) else [t]
    return any(isinstance(n, ast.Name) and n.id in _BROAD for n in names)


def silent_handlers(source: str) -> list[int]:
    """Line numbers of broad handlers whose body is only ``pass``."""
    return [
        node.lineno
        for node in ast.walk(ast.parse(source))
        if isinstance(node, ast.ExceptHandler)
        and _is_broad(node)
        and all(isinstance(stmt, ast.Pass) for stmt in node.body)
    ]


def test_detector_flags_silent_handlers():
    src = (
        "try:\n    f()\nexcept Exception:\n    pass\n"
        "try:\n    f()\nexcept:\n    pass\n"
        "try:\n    f()\nexcept (ValueError, Exception):\n    pass\n"
        "try:\n    f()\nexcept ValueError:\n    pass\n"
        "try:\n    f()\nexcept Exception as ex:\n    log(ex)\n"
    )
    assert silent_handlers(src) == [3, 7, 11]


def test_no_silent_broad_except():
    files = sorted((ROOT / "maxx_spark").rglob("*.py"))
    files += [ROOT / "bench.py", ROOT / "bench_extra.py"]
    found = [
        f"{p.relative_to(ROOT)}:{line}"
        for p in files
        for line in silent_handlers(p.read_text())
    ]
    assert not found, f"silent broad except handlers: {found}"

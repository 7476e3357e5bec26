"""Every package module is reachable from something that runs.

A static import walk (stdlib ``ast``, no Spark, nothing imported) from
the entry points: the package modules that run as ``python -m`` (an
``if __name__ == "__main__"`` guard), ``__spark_entry__.py``, the
benchmark (``perfbench/*.py``), ``scripts/*.py`` and ``jobs.maintain``
(an operator tool that no job calls). ``import`` and ``from … import``
statements are followed wherever they sit, function bodies included. A
module no root reaches is code that only its own tests run; delete it
rather than let it grow back.

``KNOWN_UNREACHED`` names the one such module still in the package,
``sources.multimodal`` (the image and FV01 decode kernels and their
three Spark stages): ROADMAP direction 2 plans its removal, with its
own tests, in slices. The list may only shrink: the test fails on a new
unreached module and on a listed one that is gone or reached.
"""

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
PKG = "oct_report_ocr_spark"
EXTRA_ROOTS = [f"{PKG}.jobs.maintain"]
KNOWN_UNREACHED = [f"{PKG}.sources.multimodal"]


def _module_name(path: Path) -> str:
    parts = path.relative_to(REPO).with_suffix("").parts
    return ".".join(parts[:-1] if parts[-1] == "__init__" else parts)


def _package_modules() -> dict[str, Path]:
    return {_module_name(p): p for p in (REPO / PKG).rglob("*.py")}


def _has_main_guard(path: Path) -> bool:
    return any(
        isinstance(n, ast.If)
        and isinstance(n.test, ast.Compare)
        and isinstance(n.test.left, ast.Name)
        and n.test.left.id == "__name__"
        for n in ast.parse(path.read_text()).body
    )


def _imported(name: str, path: Path) -> set[str]:
    """The dotted names the import statements of module ``name`` (at
    ``path``) name: for ``from a import b`` both ``a`` and ``a.b``
    (``b`` may be a module)."""
    is_pkg = path.name == "__init__.py"
    found = set()
    for n in ast.walk(ast.parse(path.read_text())):
        if isinstance(n, ast.Import):
            found.update(a.name for a in n.names)
        elif isinstance(n, ast.ImportFrom):
            if n.level:
                base = name.split(".")
                base = base[: len(base) - n.level + is_pkg]
                src = ".".join(base + ([n.module] if n.module else []))
            else:
                src = n.module
            found.add(src)
            found.update(f"{src}.{a.name}" for a in n.names)
    return found


def unreached() -> list[str]:
    modules = _package_modules()
    files = (
        [REPO / "__spark_entry__.py"]
        + sorted((REPO / "perfbench").glob("*.py"))
        + sorted((REPO / "scripts").glob("*.py"))
    )
    todo = [(_module_name(p), p) for p in files]
    seen = set()

    def reach(dotted: str) -> None:
        # importing a.b.c runs a/__init__ and a/b/__init__ as well
        parts = dotted.split(".")
        for i in range(1, len(parts) + 1):
            m = ".".join(parts[:i])
            if m in modules and m not in seen:
                seen.add(m)
                todo.append((m, modules[m]))

    for m in [m for m, p in modules.items() if _has_main_guard(p)] + EXTRA_ROOTS:
        reach(m)
    while todo:
        for dotted in _imported(*todo.pop()):
            reach(dotted)
    return sorted(set(modules) - seen)


def test_every_package_module_is_reached():
    assert unreached() == KNOWN_UNREACHED

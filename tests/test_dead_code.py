"""Nothing in the package is code that nothing runs, and the README's
capability tables name only code that exists. No Spark session needed.

(a) Every top-level function and class in ``kommunedata_data_pipeline_spark/``
    is named in some ``.py`` file of the repo outside its own definition
    (this file does not count). Names are matched as whole words, so an
    import, a call, a ``module.name`` reference or a patch by name all
    count.
(b) Every backticked ``<subpackage>.<module>.<name>`` in README.md
    resolves by import; in ``a.b.c/d/e`` the names ``c``, ``d`` and ``e``
    all live in module ``a.b``.
"""

from __future__ import annotations

import ast
import importlib
import os
import re
from collections import Counter
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG_NAME = "kommunedata_data_pipeline_spark"
PKG = ROOT / PKG_NAME
_WORD = re.compile(r"\w+")


def _repo_py_files() -> list[Path]:
    this = Path(__file__).resolve()
    out = []
    for d, dirs, files in os.walk(ROOT):
        dirs[:] = [x for x in dirs if not x.startswith(".") and x != "__pycache__"]
        out += [Path(d, f) for f in files if f.endswith(".py")]
    return [p for p in out if p.resolve() != this]


def test_every_package_def_is_named_outside_its_definition():
    words: Counter[str] = Counter()
    defs = []
    for path in _repo_py_files():
        text = path.read_text(encoding="utf-8", errors="replace")
        words.update(_WORD.findall(text))
        if PKG not in path.parents:
            continue
        lines = text.splitlines()
        for node in ast.parse(text).body:
            if not isinstance(
                node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ):
                continue
            start = min([node.lineno] + [d.lineno for d in node.decorator_list])
            own = "\n".join(lines[start - 1 : node.end_lineno])
            defs.append((path, node.name, _WORD.findall(own).count(node.name)))
    assert defs, "found no package definitions"
    dead = sorted(
        f"{path.relative_to(ROOT)}:{name}"
        for path, name, own in defs
        if words[name] <= own
    )
    assert not dead, f"named nowhere outside their definition: {dead}"


def _readme_refs() -> list[tuple[str, str, list[str]]]:
    subpackages = {
        p.name for p in PKG.iterdir() if (p / "__init__.py").is_file()
    }
    ref = re.compile(r"([a-z_]+)\.([a-z_0-9]+)\.(\w+(?:/\w+)*)")
    refs = []
    readme = (ROOT / "README.md").read_text(encoding="utf-8")
    for span in re.findall(r"`([^`\n]+)`", readme):
        m = ref.match(span)
        if m and m.group(1) in subpackages:
            refs.append((m.group(1), m.group(2), m.group(3).split("/")))
    return refs


def test_readme_names_resolve():
    refs = _readme_refs()
    assert len(refs) > 50, "README capability tables not found"
    missing = []
    for sub, mod, names in refs:
        dotted = f"{sub}.{mod}"
        try:
            module = importlib.import_module(f"{PKG_NAME}.{dotted}")
        except ImportError as e:
            missing.append(f"{dotted} ({e})")
            continue
        missing += [f"{dotted}.{n}" for n in names if not hasattr(module, n)]
    assert not missing, f"README names code that does not exist: {missing}"

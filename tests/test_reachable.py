"""Guard: every top-level def or class under ``easyocr_spark/`` is reached
from code outside ``tests/``.

Static and driver-only: each module is parsed with ``ast``, and a name
counts as reached when some non-test ``.py`` file of the repo uses it as
an identifier (a name, an attribute or an import) outside the name's own
definition. A def that only tests call is a surface no query, bench or
CLI path reaches: wire it, delete it, or list it in ``ALLOWED`` with the
reason it stays.
"""

from __future__ import annotations

import ast
from collections import Counter
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PACKAGE = ROOT / "easyocr_spark"
SKIP_DIRS = {"tests", ".git", ".perfbench", ".plans", "__pycache__"}
DEF_KINDS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)

# "module path under the package:name" -> why it stays unreached
ALLOWED = {
    "operators/dedup.py:simhash_signatures": (
        "the 62-bit signature variant; tests pin it to its DuckDB oracle, "
        "which checks the _simhash_signatures_n kernel the 128-bit path shares"
    ),
    "operators/similarity.py:brute_force_topk_window": (
        "independent single-window reference that brute_force_topk's "
        "combiner plan is asserted equal to"
    ),
    "ocr/backends/manifests.py:english_g2_checkpoint_manifest": (
        "recorded checkpoint layout; the torch-loader tests build fake "
        "checkpoints from it"
    ),
    "ocr/backends/manifests.py:craft_checkpoint_manifest": (
        "recorded checkpoint layout; the torch-loader tests build fake "
        "checkpoints from it"
    ),
    "ocr/backends/manifests.py:gen1_checkpoint_manifest": (
        "recorded checkpoint layout; the torch-loader tests build fake "
        "checkpoints from it"
    ),
    "ocr/backends/torch_craft.py:expected_params": (
        "the builder's parameter shapes, derived without torch; tests "
        "check the key remap against the recorded layout with it"
    ),
    "ocr/backends/torch_crnn.py:expected_params": (
        "the builder's parameter shapes, derived without torch; tests "
        "check the key remap against the recorded layout with it"
    ),
    "ocr/backends/torch_resnet.py:expected_params": (
        "the builder's parameter shapes, derived without torch; tests "
        "check the key remap against the recorded layout with it"
    ),
    "ocr/backends/np_torch.py:installed": (
        "the numpy shim's entry point: it runs the torch backends' real "
        "forward() methods where torch is not installed"
    ),
    "ocr/backends/np_torch.py:save": (
        "exported as torch.save by installed()'s name table, a string "
        "lookup the scan does not see"
    ),
}


def _source_files() -> list[Path]:
    return [
        p
        for p in sorted(ROOT.rglob("*.py"))
        if not SKIP_DIRS.intersection(p.relative_to(ROOT).parts)
    ]


def _identifiers(node: ast.AST) -> set[str]:
    """Every name ``node`` uses as an identifier."""
    out: set[str] = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.add(n.name.rpartition(".")[2])
    return out


def unreached() -> list[str]:
    """``module:name`` of each top-level package def that no non-test
    file uses outside the def's own body."""
    used: Counter[str] = Counter()  # name -> top-level statements using it
    defs: list[tuple[str, str, bool]] = []
    for path in _source_files():
        tree = ast.parse(path.read_text(), str(path))
        in_package = PACKAGE in path.parents
        for stmt in tree.body:
            names = _identifiers(stmt)
            used.update(names)
            if in_package and isinstance(stmt, DEF_KINDS):
                module = path.relative_to(PACKAGE).as_posix()
                defs.append((module, stmt.name, stmt.name in names))
    return [
        f"{module}:{name}"
        for module, name, self_use in defs
        if used[name] == self_use
    ]


def test_every_package_def_is_reached():
    found = set(unreached())
    assert not found - set(ALLOWED), (
        f"top-level defs that only tests reach: {sorted(found - set(ALLOWED))}"
    )
    assert not set(ALLOWED) - found, (
        f"allowed defs that are now reached or gone: {sorted(set(ALLOWED) - found)}"
    )

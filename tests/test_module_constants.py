"""Guard against module-global constant collisions (the l3c/l3d class).

Round 4's one genuine bug: l3d rebound the module global ``IVF_NPROBE``
(first declared for l3c) from 6 to 2, and l3c — reading the global at
call time — silently probed 2 of 16 lists for two rounds. Rows-only
queries have no oracle to catch a parameter clobber, so this test makes
the pattern structurally impossible: no ALL_CAPS name may be bound
twice at module level in any operator/streaming module.

Implementation: AST walk over each source file, collecting every
module-level (top-of-file scope only — function/class bodies are fine)
assignment target that matches the ALL_CAPS constant convention.
Augmented assignments and annotated assignments count too. A name bound
twice fails with both line numbers so the fix is mechanical.
"""

from __future__ import annotations

import ast
import pathlib
import re

import pytest

PKG = pathlib.Path(__file__).resolve().parent.parent / "sparkstreaming_mq_spark"
CONST_RE = re.compile(r"^[A-Z][A-Z0-9_]*$")

MODULES = sorted(p for p in PKG.rglob("*.py") if p.name != "__init__.py")


def _const_bindings(tree: ast.Module) -> dict[str, list[int]]:
    """ALL_CAPS names bound at module level -> line numbers of each binding."""
    seen: dict[str, list[int]] = {}

    def record(name: str, lineno: int) -> None:
        if CONST_RE.match(name):
            seen.setdefault(name, []).append(lineno)

    for node in tree.body:  # module level only — do not recurse
        if isinstance(node, ast.Assign):
            for tgt in node.targets:
                for leaf in ast.walk(tgt):
                    if isinstance(leaf, ast.Name):
                        record(leaf.id, node.lineno)
        elif isinstance(node, (ast.AnnAssign, ast.AugAssign)):
            if isinstance(node.target, ast.Name):
                record(node.target.id, node.lineno)
    return seen


@pytest.mark.parametrize("path", MODULES, ids=lambda p: str(p.relative_to(PKG)))
def test_no_duplicate_module_constants(path: pathlib.Path) -> None:
    tree = ast.parse(path.read_text(), filename=str(path))
    dupes = {
        name: lines
        for name, lines in _const_bindings(tree).items()
        if len(lines) > 1
    }
    assert not dupes, (
        f"{path.name}: module-level ALL_CAPS constants bound more than once "
        f"(later binding silently clobbers earlier readers — the l3c/l3d "
        f"IVF_NPROBE bug): {dupes}. Prefix the later block's constants."
    )


def test_guard_catches_seeded_duplicate() -> None:
    """The detector itself must flag a known-bad module."""
    seeded = ast.parse(
        "IVF_NPROBE = 6\n"
        "def f():\n"
        "    LOCAL_OK = 1\n"
        "    return LOCAL_OK\n"
        "IVF_NPROBE = 2\n"
    )
    bindings = _const_bindings(seeded)
    assert bindings["IVF_NPROBE"] == [1, 5]
    assert "LOCAL_OK" not in bindings, "function-local names must not count"


def test_no_hadoop_conf_reaches_sessions_built_elsewhere() -> None:
    """``apply_runtime_conf`` runs on sessions the engine did not build,
    and ENGINE_CONF also on cluster masters; neither has the NioLocalFs
    jar on its classpath, so a ``spark.hadoop.*`` key naming it would
    fail every checkpoint with ClassNotFoundException. Only get_spark's
    local branch may set it, next to the jar."""
    from sparkstreaming_mq_spark import session

    for conf in (session.RUNTIME_CONF, session.ENGINE_CONF):
        assert not [k for k in conf if k.startswith("spark.hadoop.")], conf

"""The size-gate census, kept true: every module-level numeric constant of
the engine's query and update modules is patched by some test, so the
suite takes the side its default does not, or is named in ALLOWED with
the reason it needs no patch. Spark-free: it reads source text only."""

from __future__ import annotations

import ast
import pathlib
import re

ROOT = pathlib.Path(__file__).resolve().parents[1]
MODULES = ("knn", "index", "ranges", "updates")

# constants no test patches, and why none has to
ALLOWED = {
    "MESH_CAP_LOG2": "reached through geometry: the 7-d kNN tests take mesh rounds, then the exhaustive one",
    "PRUNE_MIN_DUP_FACTOR": "test_knn_pruned_gate_outcomes takes both sides with fixture data",
    "PRUNE_KEEP_RATIO": "test_knn_pruned_gate_outcomes takes both sides with fixture data",
    "PRUNE_CAP_MIN": "a floor on the cap: test_knn_pruned_duplicate_collapse runs k below and above it",
    "SCAN_PRED_MAX_INTERVALS": "a cap that test_scan_pred asserts on leaf sets above and below it",
    "SCAN_PRED_MIN_EXCLUDED": "test_scan_pred takes both sides with leaf sets, Spark-free",
    "PAIR_CHUNK": "a chunk size, not a branch: every chunk runs the same classify",
}


def _constants() -> dict[str, str]:
    """{name: module} of each upper-case module-level name bound to a number."""
    out = {}
    for mod in MODULES:
        for node in ast.parse((ROOT / "pkd_tree_spark" / f"{mod}.py").read_text()).body:
            if not (isinstance(node, ast.Assign) and len(node.targets) == 1 and isinstance(node.targets[0], ast.Name)):
                continue
            name = node.targets[0].id
            try:
                value = eval(compile(ast.Expression(node.value), mod, "eval"), {"__builtins__": {}})
            except Exception:  # noqa: BLE001 — not a literal expression
                continue
            if name.isupper() and isinstance(value, (int, float)) and not isinstance(value, bool):
                out[name] = mod
    return out


def _patched() -> set[str]:
    """Names some test sets with monkeypatch.setattr or mock.patch.object."""
    text = "".join(p.read_text() for p in (ROOT / "tests").glob("*.py"))
    return set(re.findall(r'(?:setattr|patch\.object)\(\s*\w+\s*,\s*"(\w+)"', text))


def test_every_gate_constant_is_patched_or_allowed():
    consts, patched = _constants(), _patched()
    assert {"DRIVER_CELLS_MAX_QUERIES", "STAGE_INPUT_BYTES", "BROADCAST_BYTES"} <= set(consts)
    missing = sorted(f"{consts[n]}.{n}" for n in consts if n not in patched and n not in ALLOWED)
    assert not missing, f"no test patches {missing}: add one that takes the other side, or an ALLOWED reason"
    stale = sorted(n for n in ALLOWED if n not in consts or n in patched)
    assert not stale, f"ALLOWED names constants that are gone or patched: {stale}"

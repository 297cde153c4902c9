"""Every top-level def/class and every top-level assigned name of the
package is used by the program: a face, the CLI, a streaming twin,
``bench.py``, ``perfbench/`` or ``tools/``. A name that only tests reach
is code kept alive by its own tests; it goes with them, or it is listed
below with its reason."""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = ROOT / "eth_options_data_pipeline_spark"

_TWIN = "streaming/stream.py is the paper's streaming twin module, kept whole"
KEPT = {
    "StreamingOptionsPipeline": _TWIN,
    "read_ticker_stream": _TWIN,
    "windowed_event_counts": _TWIN,
    "sliding_event_counts": _TWIN,
    "session_event_counts": _TWIN,
    "enrich_with_static": _TWIN,
    "dedup_symbols_within_watermark": _TWIN,
    "tracked_batch_counts": "sequential reference for sx05's one-pass candidate replay",
    "dequantize": "reconstruction-bound reference for the quantize_int8 the faces run",
    "train_quality_classifier": "trained twin of dx41's frozen linear scorer",
    "score_documents": "scores the trained twin of dx41's frozen linear scorer",
    "train_quantizer": "batch truth for the sx12 streaming IVF face",
    "_bloom_hits": "bloom-vs-direct reference for the build/probe kernels dx65 runs",
    "signature_battery": "plan reference for the signature kernels inside dx07/dx10",
}


def _names(tree: ast.AST) -> set[str]:
    out = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            out.add(node.id)
        elif isinstance(node, ast.Attribute):
            out.add(node.attr)
    return out  # an import alone is not a use: an unused import keeps nothing alive


def test_no_package_name_is_reached_only_from_tests():
    program = [*PKG.rglob("*.py"), ROOT / "bench.py", ROOT / "__spark_entry__.py",
               *(ROOT / "perfbench").glob("*.py"), *(ROOT / "tools").glob("*.py")]
    # one entry per top-level statement, so a def's own body (recursion,
    # a class naming itself) never counts as a use of it
    stmts = [(p, node) for p in program if not p.name.startswith("test_")
             for node in ast.parse(p.read_text()).body]
    users: dict[str, set[int]] = {}
    for i, (_, node) in enumerate(stmts):
        for name in _names(node):
            users.setdefault(name, set()).add(i)
    defs = [(i, p, node) for i, (p, node) in enumerate(stmts)
            if PKG in p.parents and isinstance(node, (ast.FunctionDef, ast.ClassDef))]
    unused = [f"{p.relative_to(ROOT)}:{node.lineno} {node.name}" for i, p, node in defs
              if not node.decorator_list  # decorated defs are registered faces
              and node.name not in KEPT and not users.get(node.name, set()) - {i}]
    # module constants: every name a top-level assignment binds
    # (dunder names such as __all__ are read by Python itself)
    unused += [f"{p.relative_to(ROOT)}:{node.lineno} {name}"
               for i, (p, node) in enumerate(stmts) if PKG in p.parents
               for name in _assigned(node)
               if not name.startswith("__") and not users.get(name, set()) - {i}]
    assert unused == []
    assert set(KEPT) <= {node.name for _, _, node in defs}


def _assigned(node: ast.stmt) -> list[str]:
    """Names a top-level ``x = ...`` / ``x: T = ...`` statement binds."""
    targets = (node.targets if isinstance(node, ast.Assign)
               else [node.target] if isinstance(node, ast.AnnAssign) else [])
    return [n.id for t in targets for n in ast.walk(t) if isinstance(n, ast.Name)]

"""Every top-level def/class and every top-level assigned name of the
package is used by the program: a face, the CLI, a streaming twin,
``bench.py``, ``perfbench/`` or ``tools/``. A name that only tests reach
is code kept alive by its own tests; it goes with them, or it is listed
below with its reason. The same holds for options: a defaulted
parameter that no program call sets has one value in use, so it is a
constant, not an option."""

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


_DEPLOY = ("deployment path: the CORRECTNESS history lives under the repo "
           "root; tests point it at a fake history")
OPTIONS_KEPT = {
    "StreamingOptionsPipeline.__init__.as_of_for_batch":
        "test seam: a test clock for the streaming twin's batch time",
    "_bloom_hits.use_bloom":
        "reference path: the direct join the bloom tests compare dx62 against",
    **{f"{fn}.repo_root": _DEPLOY for fn in (
        "correctness_rounds", "latest_failed", "last_driver_round",
        "computed_window", "age_table", "policy_violations",
        "format_age_table")},
}


def _program() -> list[Path]:
    return [p for p in (*PKG.rglob("*.py"), ROOT / "bench.py",
                        ROOT / "__spark_entry__.py",
                        *(ROOT / "perfbench").glob("*.py"),
                        *(ROOT / "tools").glob("*.py"))
            if not p.name.startswith("test_")]


def _names(tree: ast.AST) -> set[str]:
    out = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            out.add(node.id)
        elif isinstance(node, ast.Attribute):
            out.add(node.attr)
    return out  # an import alone is not a use: an unused import keeps nothing alive


def test_no_package_name_is_reached_only_from_tests():
    # one entry per top-level statement, so a def's own body (recursion,
    # a class naming itself) never counts as a use of it
    stmts = [(p, node) for p in _program()
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


def _defaulted(fn: ast.FunctionDef) -> list[str]:
    a = fn.args
    pos = a.posonlyargs + a.args
    return ([x.arg for x in pos[len(pos) - len(a.defaults):]]
            + [x.arg for x, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None])


def test_every_option_is_set_by_the_program():
    """A defaulted parameter of a package def (or of a method of a
    top-level class) must be set by some call outside ``tests/``,
    matched by callee name, by keyword or position (``**kw`` and
    ``*args`` set everything they could reach). A call that only
    forwards an enclosing def's own unset parameter (``f(x, k=k)``)
    does not count, so the set options are a least fixpoint."""
    trees = {p: ast.parse(p.read_text()) for p in _program()}
    defs = {}   # id(def node) -> (def node, qualified name, self offset)
    by_called: dict[str, list] = {}
    for p, tree in trees.items():
        if PKG not in p.parents:
            continue
        for node in tree.body:
            methods = node.body if isinstance(node, ast.ClassDef) else [node]
            for fn in methods:
                if not isinstance(fn, ast.FunctionDef):
                    continue
                if fn is node:
                    qual, called, off = fn.name, fn.name, 0
                else:
                    static = any(isinstance(d, ast.Name) and d.id == "staticmethod"
                                 for d in fn.decorator_list)
                    qual = f"{node.name}.{fn.name}"
                    called = node.name if fn.name == "__init__" else fn.name
                    off = 0 if static else 1
                defs[id(fn)] = (fn, qual, off)
                by_called.setdefault(called, []).append(defs[id(fn)])
    calls = []  # (call, nearest enclosing def or None)

    def visit(node, enc):
        for ch in ast.iter_child_nodes(node):
            if isinstance(ch, ast.Call):
                calls.append((ch, enc))
            visit(ch, ch if isinstance(ch, ast.FunctionDef) else enc)
    for tree in trees.values():
        visit(tree, None)
    set_opts: set[str] = set()
    changed = True
    while changed:
        changed = False
        for call, enc in calls:
            f = call.func
            name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
            unset_enc = set()
            if enc is not None and id(enc) in defs:
                _, enc_qual, _ = defs[id(enc)]
                unset_enc = {q for q in _defaulted(enc)
                             if f"{enc_qual}.{q}" not in set_opts}
            sets = lambda v: not (isinstance(v, ast.Name) and v.id in unset_enc)
            for fn, qual, off in by_called.get(name, []):
                dflt = set(_defaulted(fn))
                params = [x.arg for x in fn.args.posonlyargs + fn.args.args]
                hit = set()
                for kw in call.keywords:
                    if kw.arg is None:
                        hit |= dflt
                    elif kw.arg in dflt and sets(kw.value):
                        hit.add(kw.arg)
                for i, v in enumerate(call.args):
                    if isinstance(v, ast.Starred):
                        hit |= dflt & set(params[off + i:])
                        break
                    if off + i < len(params) and params[off + i] in dflt and sets(v):
                        hit.add(params[off + i])
                new = {f"{qual}.{q}" for q in hit} - set_opts
                if new:
                    set_opts |= new
                    changed = True
    options = {f"{qual}.{q}" for fn, qual, _ in defs.values() for q in _defaulted(fn)}
    assert sorted(options - set_opts - set(OPTIONS_KEPT)) == []
    assert set(OPTIONS_KEPT) <= options - set_opts  # no stale entry

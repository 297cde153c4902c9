"""Driver-window freshness policy.

The driver hash-checks only the first 50 names ``queries()`` yields
(one ``CORRECTNESS_r{N}.json`` row per name per round).  Faces outside
the window keep only the local sf0.001/sf0.01 sweeps between rounds,
so a face left out too long drifts away from its last *driver* check.

Policy (VERDICT r06 item 1, refined r09 item 3): **no registered face
goes more than its class staleness limit rounds without a driver
row** — i.e. for every face, ``current_round - last_driver_round <=
staleness_limit(face)``, where a face in the current window counts as
checked this round.  Limits are per risk class (``_CLASS_STALENESS``):
2 for the classes hardest to re-verify locally (sx/cx/vx/mm), 3 for
the deterministic batch dx kernels and qx format roundtrips, 4 for the
plain-relational q-faces — every face at staleness >= 2 is re-verified
at driver scale by the local sf0.01 sweep regardless
(tests/test_corpus_oracle.py), and the graduated limits keep the
43-slot window unsaturated as the registry grows (VERDICT r09 item 3,
extended round 10 — capacity math in
tests/test_registry_window.py::test_window_capacity_not_saturating).

This module is the single source of truth for per-face driver-row age:
``tools/verify_driver.py`` prints the age table from it, and
``tests/test_registry_window.py`` asserts the policy from it, so each
round's rotation is computed, not hand-curated.
"""

from __future__ import annotations

import glob
import json
import os
import re

MAX_STALENESS = 2
# Plain-relational q-faces (risk class 6) may go longer between driver
# rows: the default sf0.01 sweep re-runs them at driver scale locally.
Q_FACE_STALENESS = 4
WINDOW_SIZE = 50

# Per-class staleness limits (round-10 capacity refinement, extending
# VERDICT r09 item 3's q-face demotion; dx/qx widened 3 -> 4 in r11
# alongside the face consolidation, VERDICT r10 item 7). Rationale:
# any dx/qx/vx/cx face at post-window staleness >= MAX_STALENESS
# enters the local sf0.01 driver-scale sweep
# (tests/test_corpus_oracle.py), which runs at the driver's own scale
# every local run — so between driver rows the marginal risk of extra
# rounds is environmental, not computational, for any deterministic
# batch face. The tight limit stays on the classes hardest to
# re-verify locally: sx (streaming replays with scratch/checkpoint
# state), cx (multi-kernel compositions), vx (rounding-sensitive
# numeric kernels), mm (Arrow FFI plumbing). The batch dx kernels and
# the qx format/scratch roundtrips — deterministic single-plan faces
# the sweep covers convincingly, at driver scale, every run while they
# wait — carry 4, the same window the plain relational q-faces get
# (whose sweep membership r11 dropped precisely because they have no
# scale-sensitive guarantee to re-check).
_CLASS_STALENESS = {"sx": 2, "cx": 2, "dx": 4, "vx": 2, "mm": 2,
                    "qx": 4}

# Faces whose IMPLEMENTATION was reworked after their last driver row
# (late r12): staleness measures age, not risk — a face rebuilt on a
# new kernel carries first-round risk again regardless of how recently
# its old implementation was checked, so it schedules like a
# never-checked face (deadline 0, behind failures, ahead of every
# merely-stale face). Curated per round by the builder; entries drop
# off once a NEWER driver round has a green row for the face (no
# stale-set bookkeeping — the condition is computed).
REWORKED_AFTER_ROUND = {
    # r15's entries (dx42 r14-rework, q04 r11-rework) pruned at r16
    # start: both got green r15 driver rows newer than their rework
    # rounds (VERDICT r15 item 5).
    # r16 optimization-round reworks: result-identical by design
    # (oracle-parity-tested locally), but each changed the face's
    # internals enough to carry first-round risk again.
    "cx05_corpus_composition": 16,  # tokenize stage: explode+join+
                                    # groupBy -> in-row map-literal
                                    # fold over the frozen segmented
                                    # lexicon
    "cx03_quality_ensemble": 16,    # frozen-classifier scorer now the
                                    # in-row fold regime (no explode/
                                    # join/shuffle)
    "dx41_classifier_gate": 16,     # same scorer regime switch
    "cx04_token_budget_pack": 16,   # packing order key computed JVM-
                                    # side, kernel sorts by column
    "qx48_approx_quantiles": 16,    # splits_hint reuses the sketch
                                    # panel; column pin is a rotated
                                    # cache
    "dx28_pagerank": 16,            # short-path caches rotate per
                                    # invocation; edge list pinned
                                    # once per invocation
}

_REPO_ROOT = os.path.dirname(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)


def _row_green(row: dict) -> bool:
    """A driver row counts as a CHECK only if it passed: full oracle
    rows need the value-hash match; rows-only faces (err='no_oracle')
    need a recorded row count. Errored/mismatched rows do NOT count,
    so a face that fails in round N sorts ahead of every checked face
    and re-enters round N+1's computed window unconditionally (see
    computed_window)."""
    if row.get("hash_match"):
        return bool(row.get("rows_match")) and bool(row.get("schema_match"))
    return row.get("err") == "no_oracle" and row.get("spark_rows") is not None


def _round_files(repo_root: str) -> dict[int, list[str]]:
    """round number -> CORRECTNESS files parsing to that round.

    ``r9`` and ``r09`` both parse to round 9; both files contribute
    (set-union of their rows) rather than last-writer-wins, so a
    synthetic fixture file can never silently REPLACE the real round's
    rows (the r09 red-HEAD collision, VERDICT r09 item 1)."""
    out: dict[int, list[str]] = {}
    for path in sorted(glob.glob(os.path.join(repo_root, "CORRECTNESS_r*.json"))):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if not m:
            continue
        out.setdefault(int(m.group(1)), []).append(path)
    return out


def correctness_rounds(repo_root: str = _REPO_ROOT) -> dict[int, set[str]]:
    """round number -> set of face names with a GREEN driver row that
    round (see _row_green; failed rows are treated as unchecked).
    Duplicate round numbers (``r9`` + ``r09``) union their green sets."""
    out: dict[int, set[str]] = {}
    for rnd, paths in _round_files(repo_root).items():
        green: set[str] = set()
        for path in paths:
            with open(path) as f:
                rows = json.load(f)
            green |= {n for n, r in rows.items() if _row_green(r)}
        out[rnd] = green
    return out


def latest_failed(repo_root: str = _REPO_ROOT) -> set[str]:
    """Faces with a row in the LATEST round that is not green (failed
    or errored there, and no duplicate file recorded a green row).
    These must re-enter the next window unconditionally."""
    files = _round_files(repo_root)
    if not files:
        return set()
    latest = max(files)
    seen: set[str] = set()
    green: set[str] = set()
    for path in files[latest]:
        with open(path) as f:
            rows = json.load(f)
        seen |= set(rows)
        green |= {n for n, r in rows.items() if _row_green(r)}
    return seen - green


def last_driver_round(repo_root: str = _REPO_ROOT) -> dict[str, int]:
    """face name -> most recent round with a GREEN driver row (0 =
    never).

    Names are taken as-recorded; renamed/retired faces simply stop
    matching the live registry and are ignored by callers that join
    against it.
    """
    last: dict[str, int] = {}
    for rnd, names in correctness_rounds(repo_root).items():
        for n in names:
            last[n] = max(last.get(n, 0), rnd)
    return last


# Tie-break rank for faces at the SAME deadline: streaming/stateful
# faces are the hardest to re-verify locally (a driver row is worth
# the most), compositions next, then the kernel-heavy dx faces, the
# vector stack, multimodal, extensions, and last the plain relational
# q-faces (the sf0.01 sweeps re-verify those convincingly between
# driver rows). Within a class, name order. Because chosen faces get
# fresh rows and unchosen ones age, the ordering is self-balancing
# round-robin — no face can starve while slack exists.
_RISK_CLASS = {"sx": 0, "cx": 1, "dx": 2, "vx": 3, "mm": 4, "qx": 5}


def _risk_rank(name: str) -> int:
    return _RISK_CLASS.get(name[:2], 6)


def staleness_limit(name: str) -> int:
    """Max rounds a face may go without a green driver row.

    Rank 6 is exactly the plain-relational q-faces (``qNN_``) — every
    other registered prefix has a _RISK_CLASS entry, so the generous
    Q_FACE_STALENESS can only ever apply to them. An UNKNOWN future
    prefix falls through to the tight global MAX_STALENESS: a new face
    class should earn a looser limit explicitly (one _CLASS_STALENESS
    entry), never inherit the loosest one by accident (ADVICE r10)."""
    if _risk_rank(name) == 6 and re.match(r"q\d", name):
        return Q_FACE_STALENESS
    return _CLASS_STALENESS.get(name[:2], MAX_STALENESS)


def computed_window(registry_names: list, core: list,
                    repo_root: str = _REPO_ROOT) -> list:
    """The driver window, COMPUTED from the CORRECTNESS history — no
    hand curation, no end-of-round rotation commit (VERDICT r08 item
    2). Membership: the regression core always; then every registered
    face ordered by (deadline asc, risk class, name) where deadline =
    last green driver round + that face's staleness limit — the face
    whose freshness deadline binds first heads every window.  Two
    unconditional overrides (VERDICT r09 item 2): a face whose row in
    the LATEST round exists and is not green sorts with deadline -1
    (ahead of everything — a failed face re-enters the very next
    window even with zero slack), and a never-checked face (new
    registration) sorts with deadline 0, ahead of every checked face.
    When a new CORRECTNESS_r{N}.json lands, the window rotates for
    round N+1 by construction, keeping the freshness policy green at
    every commit."""
    last = last_driver_round(repo_root)
    failed = latest_failed(repo_root)

    def deadline(n):
        if n in failed:
            return -1
        lr = last.get(n, 0)
        if lr <= REWORKED_AFTER_ROUND.get(n, -1):
            return 0  # rebuilt since its last row: first-round risk
        return lr + staleness_limit(n) if lr else 0

    core_in = [n for n in core if n in registry_names]
    rest = sorted(
        (n for n in registry_names if n not in set(core_in)),
        key=lambda n: (deadline(n), _risk_rank(n), n),
    )
    return (core_in + rest)[:WINDOW_SIZE]


def age_table(
    registry_names: list[str],
    window_names: list[str],
    repo_root: str = _REPO_ROOT,
) -> list[tuple[str, int, int, bool]]:
    """Per-face ``(name, last_round, post_window_staleness, in_window)``.

    ``post_window_staleness`` is the age the face will have AFTER the
    upcoming driver round runs the given window: 0 if the face is in
    the window, else ``next_round - last_round``.  Sorted stalest-first.
    """
    rounds = correctness_rounds(repo_root)   # one history parse per call
    last: dict[str, int] = {}
    for rnd, names in rounds.items():
        for name in names:
            last[name] = max(last.get(name, 0), rnd)
    next_round = max(rounds, default=0) + 1
    in_window = set(window_names)
    rows = []
    for name in registry_names:
        lr = last.get(name, 0)
        stale = 0 if name in in_window else (next_round - lr if lr else next_round)
        rows.append((name, lr, stale, name in in_window))
    rows.sort(key=lambda r: (-r[2], r[1], r[0]))
    return rows


def policy_violations(
    registry_names: list[str],
    window_names: list[str],
    repo_root: str = _REPO_ROOT,
) -> list[tuple[str, int, int]]:
    """Faces whose post-window staleness would exceed their class
    staleness limit (MAX_STALENESS, or Q_FACE_STALENESS for plain
    relational q-faces)."""
    return [
        (name, lr, stale)
        for name, lr, stale, _ in age_table(registry_names, window_names, repo_root)
        if stale > staleness_limit(name)
    ]


def format_age_table(
    registry_names: list[str],
    window_names: list[str],
    repo_root: str = _REPO_ROOT,
) -> str:
    lines = ["face                            last_r  next_age  limit  window"]
    for name, lr, stale, inw in age_table(registry_names, window_names, repo_root):
        lines.append(
            f"{name:<32}{lr or '-':>5}{stale:>9}{staleness_limit(name):>6}"
            f"  {'*' if inw else ''}"
        )
    return "\n".join(lines)

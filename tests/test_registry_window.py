"""The driver checks the FIRST 50 names queries() yields; this pins
that every prioritized name actually resolves — a silent drop (e.g. a
face rename without updating _WINDOW_PRIORITY) would promote an
arbitrary registration-order name into the checked window and
permanently cost the dropped face its driver CORRECTNESS row."""

from __future__ import annotations

import os

from eth_options_data_pipeline_spark import queries as q


def test_window_priority_names_all_resolve():
    missing = [n for n in q._WINDOW_PRIORITY if n not in q.REGISTRY]
    assert missing == [], f"stale _WINDOW_PRIORITY entries: {missing}"
    assert len(q._WINDOW_PRIORITY) == 50
    assert len(set(q._WINDOW_PRIORITY)) == 50


def test_queries_yield_priority_order_then_registry_order():
    names = list(q.queries())
    assert names[:50] == q._WINDOW_PRIORITY
    assert set(names) == set(q.REGISTRY)
    assert len(names) == len(q.REGISTRY)


def test_every_query_has_oracle_sql():
    sqls = q.oracle_sql()
    missing = [n for n in q.REGISTRY if n not in sqls]
    assert missing == [], f"faces without oracle SQL: {missing}"


def test_regression_core_always_in_window():
    """The §2 reference-parity core must hold a driver row EVERY
    round (and the default sf0.01 sweep keys off REGRESSION_CORE, so
    a drop here would silently shrink driver-scale coverage too)."""
    assert set(q.REGRESSION_CORE) <= set(q._WINDOW_PRIORITY)
    assert set(q.REGRESSION_CORE) <= set(q.REGISTRY)


def test_window_satisfies_freshness_policy():
    """No face may go more than MAX_STALENESS (=2) rounds without a
    driver CORRECTNESS row.  ``policy_violations`` computes, for every
    registered face, the staleness it will have AFTER the upcoming
    driver round runs the current window (0 if in-window); any face
    that would exceed the limit must be rotated in.  This makes each
    round's rotation computed from the CORRECTNESS_r*.json history,
    not hand-curated (VERDICT r06 items 1 and 7)."""
    from eth_options_data_pipeline_spark.queries import window_policy as wp

    registry = list(q.REGISTRY)
    violations = wp.policy_violations(registry, q._WINDOW_PRIORITY)
    assert violations == [], (
        "faces exceeding max driver-row staleness "
        f"{wp.MAX_STALENESS}: {violations}\n"
        + wp.format_age_table(registry, q._WINDOW_PRIORITY)
    )


def _green_row():
    return {"rows_match": True, "schema_match": True, "hash_match": True,
            "spark_rows": 1, "oracle_rows": 1, "err": None}


def _fake_history(tmp_path, land_next=False, failed=()):
    """Copy the real CORRECTNESS history into tmp and optionally land
    a synthetic NEXT round (max parsed real round + 1, zero-padded
    filename so it can never collide with a real round's file — the
    r9/r09 collision, VERDICT r09 item 1): green rows for the CURRENT
    computed window except the names in ``failed`` (hash mismatch)."""
    import glob
    import json
    import shutil

    from eth_options_data_pipeline_spark.queries import window_policy as wp

    for p in glob.glob(os.path.join(wp._REPO_ROOT, "CORRECTNESS_r*.json")):
        shutil.copy(p, tmp_path)
    if land_next:
        nxt = max(wp.correctness_rounds(str(tmp_path)), default=0) + 1
        rows = {}
        for name in q._WINDOW_PRIORITY:
            r = _green_row()
            if name in failed:
                r["hash_match"] = False
            rows[name] = r
        with open(tmp_path / f"CORRECTNESS_r{nxt:02d}.json", "w") as f:
            json.dump(rows, f)
    return str(tmp_path)


def test_computed_window_autorotates_when_next_round_lands(tmp_path):
    """The r08 designed-red-at-HEAD problem, closed: landing
    CORRECTNESS_r{N}.json must rotate the computed window for round
    N+1 with zero code change, keeping the freshness policy green."""
    from eth_options_data_pipeline_spark.queries import window_policy as wp

    root = _fake_history(tmp_path, land_next=True)
    registry = list(q.REGISTRY)
    nxt = wp.computed_window(registry, q.REGRESSION_CORE, repo_root=root)
    assert wp.policy_violations(registry, nxt, repo_root=root) == []
    # the faces whose freshness deadline binds first (left out of the
    # landed window AND earliest last_green + limit) must all be in,
    # and the core never leaves
    last = wp.last_driver_round(root)
    left_out = set(registry) - set(q._WINDOW_PRIORITY)
    first_deadline = min(
        last.get(n, 0) + wp.staleness_limit(n) for n in left_out
    )
    must_head = {
        n for n in left_out
        if last.get(n, 0) + wp.staleness_limit(n) == first_deadline
    }
    assert must_head <= set(nxt)
    assert set(q.REGRESSION_CORE) <= set(nxt)


def test_failed_face_reenters_next_window(tmp_path):
    """A face whose driver row FAILED counts as unchecked, so it must
    re-enter the very next computed window to re-earn a green row
    (the r07 dx26 situation, now automatic)."""
    from eth_options_data_pipeline_spark.queries import window_policy as wp

    victim = next(n for n in q._WINDOW_PRIORITY
                  if n not in q.REGRESSION_CORE)
    root = _fake_history(tmp_path, land_next=True, failed=(victim,))
    nxt = wp.computed_window(list(q.REGISTRY), q.REGRESSION_CORE,
                             repo_root=root)
    assert victim in nxt


def test_failed_face_reentry_is_unconditional(tmp_path, monkeypatch):
    """VERDICT r09 item 2: the re-entry guarantee must hold by POLICY,
    not by window slack — a failed face sorts with deadline -1, ahead
    of every checked face.  Prove it with zero slack: a window sized
    core+1 must still admit the failed face."""
    from eth_options_data_pipeline_spark.queries import window_policy as wp

    victim = next(n for n in q._WINDOW_PRIORITY
                  if n not in q.REGRESSION_CORE)
    root = _fake_history(tmp_path, land_next=True, failed=(victim,))
    assert victim in wp.latest_failed(root)
    monkeypatch.setattr(wp, "WINDOW_SIZE", len(q.REGRESSION_CORE) + 1)
    tight = wp.computed_window(list(q.REGISTRY), q.REGRESSION_CORE,
                               repo_root=root)
    assert tight == [*[c for c in q.REGRESSION_CORE if c in q.REGISTRY],
                     victim]


def test_reworked_face_schedules_like_never_checked(tmp_path, monkeypatch):
    """REWORKED_AFTER_ROUND (late r12): a face rebuilt on a new kernel
    after its last green driver row carries first-round risk again —
    it sorts at deadline 0 (behind failures, ahead of every
    merely-stale face), and the override expires by construction once
    a newer round lands a green row for it."""
    from eth_options_data_pipeline_spark.queries import window_policy as wp

    victim = next(n for n in q._WINDOW_PRIORITY
                  if n not in q.REGRESSION_CORE)
    root = _fake_history(tmp_path, land_next=True)
    last = wp.last_driver_round(root)[victim]
    monkeypatch.setattr(wp, "REWORKED_AFTER_ROUND", {victim: last})
    # zero-slack window: core + the never-checked/new faces + victim
    never = [n for n in q.REGISTRY
             if n not in wp.last_driver_round(root)
             and n not in q.REGRESSION_CORE]
    monkeypatch.setattr(wp, "WINDOW_SIZE",
                        len(q.REGRESSION_CORE) + len(never) + 1)
    tight = wp.computed_window(list(q.REGISTRY), q.REGRESSION_CORE,
                               repo_root=root)
    assert victim in tight
    # a green row in a LATER round than the rework expires the override
    monkeypatch.setattr(wp, "REWORKED_AFTER_ROUND", {victim: last - 1})
    tight2 = wp.computed_window(list(q.REGISTRY), q.REGRESSION_CORE,
                                repo_root=root)
    assert victim not in tight2


def test_duplicate_round_spellings_union(tmp_path):
    """The r9/r09 collision, hardened: two files parsing to the same
    round number must UNION their rows (green-set union; a face is
    'failed in latest' only if no duplicate file recorded it green) —
    never last-writer-wins."""
    import json

    from eth_options_data_pipeline_spark.queries import window_policy as wp

    rows_a = {"face_a": _green_row(), "face_b": _green_row()}
    rows_a["face_b"]["hash_match"] = False
    rows_b = {"face_b": _green_row(), "face_c": _green_row()}
    rows_b["face_c"]["hash_match"] = False
    with open(tmp_path / "CORRECTNESS_r7.json", "w") as f:
        json.dump(rows_a, f)
    with open(tmp_path / "CORRECTNESS_r07.json", "w") as f:
        json.dump(rows_b, f)
    rounds = wp.correctness_rounds(str(tmp_path))
    assert set(rounds) == {7}
    # face_b failed in one spelling but is green in the other -> green
    assert rounds[7] == {"face_a", "face_b"}
    assert wp.latest_failed(str(tmp_path)) == {"face_c"}
    assert wp.last_driver_round(str(tmp_path)) == {"face_a": 7, "face_b": 7}


def test_window_capacity_not_saturating():
    """VERDICT r09 item 3: the per-class staleness map must keep the
    window schedulable as the registry grows.  Steady-state load is
    sum over non-core faces of 1/(limit+1) window slots per round.

    Growth model (r14, per r13 ADVICE): derived from the MEASURED net
    registry trajectory instead of a hand-tuned constant, so the guard
    tightens automatically if the consolidation cadence stops. Net
    growth over a trailing 3-round window = (current registry size) -
    (faces alive 3 rounds ago), where a face was alive at round r0 if
    its first driver row is <= r0 and it either survives in the
    registry today or still had rows at r0 (folded later). Worst case
    all new faces land at the tight MAX_STALENESS limit. A +2/round
    FLOOR keeps the model honest when measured net is ~0 or negative
    (a heavy-fold round must not let the projection balloon)."""
    from eth_options_data_pipeline_spark.queries import window_policy as wp

    slots = wp.WINDOW_SIZE - len(q.REGRESSION_CORE)
    load = sum(
        1.0 / (wp.staleness_limit(n) + 1)
        for n in q.REGISTRY if n not in q.REGRESSION_CORE
    )
    assert load <= slots, f"already saturated: load {load:.1f} > {slots}"
    rounds = wp.correctness_rounds()
    latest = max(rounds, default=0)
    current_round = latest + 1
    first: dict[str, int] = {}
    last: dict[str, int] = {}
    for r in sorted(rounds):
        for f in rounds[r]:
            first.setdefault(f, r)
            last[f] = r
    r0 = latest - 3
    alive_at_r0 = sum(
        1 for f in first
        if first[f] <= r0 and (f in q.REGISTRY or last[f] >= r0))
    measured_net = (len(q.REGISTRY) - alive_at_r0) / (latest - r0)
    growth_per_round = max(measured_net, 2.0) / (wp.MAX_STALENESS + 1)
    saturation_round = current_round + (slots - load) / growth_per_round
    assert saturation_round >= current_round + 6, (
        f"window saturates at round {saturation_round:.1f} "
        f"(load {load:.1f}/{slots} slots, measured net "
        f"{measured_net:+.2f} faces/round, modeled "
        f"+{growth_per_round:.2f} slots/round)"
    )


def test_every_face_has_some_driver_row_or_is_in_window():
    """Union of all CORRECTNESS rounds + the current window must cover
    the whole registry — a new face must enter the window the round it
    is registered (never-checked faces have age = next_round)."""
    from eth_options_data_pipeline_spark.queries import window_policy as wp

    last = wp.last_driver_round()
    uncovered = [
        n for n in q.REGISTRY
        if last.get(n, 0) == 0 and n not in q._WINDOW_PRIORITY
    ]
    assert uncovered == [], f"faces with no driver row and not in window: {uncovered}"

def test_driver_window_composition():
    """The driver hash-checks only the first DRIVER_WINDOW entries of
    queries().  Rotation invariants: every window entry is oracle-backed
    (rows-only checks waste a slot), no already-driver-green name
    occupies a slot while never-verified oracle-backed queries wait, and
    every currently-red query re-enters the window to re-verify."""
    from splitserve_spark.registry import (
        DRIVER_WINDOW, REGISTRY, _DRIVER_VERDICTS, _settled,
        driver_window, ordered_registry,
    )
    w = driver_window()
    assert len(w) == DRIVER_WINDOW
    # "settled" = latest driver verdict fully certifies the spec (a
    # rows-only green upgraded with an oracle is NOT settled — it must
    # re-enter the window for a value-checked verdict).
    waiting = [
        n for n in ordered_registry()
        if n not in w and not _settled(REGISTRY[n]) and REGISTRY[n].oracle
    ]
    greens_in_window = [n for n in w if _settled(REGISTRY[n])]
    assert not (waiting and greens_in_window), (waiting, greens_in_window)
    # A no-oracle entry (rows-only verdict) may occupy a slot only when
    # no oracle-backed unverified query is left waiting outside.
    no_oracle_in_window = [n for n in w if REGISTRY[n].oracle is None]
    assert not (waiting and no_oracle_in_window), (waiting, no_oracle_in_window)
    # Every latest-red name must re-verify this round.
    reds = [n for n, ok in _DRIVER_VERDICTS.items() if not ok and n in REGISTRY]
    for name in reds:
        assert name in w, f"red query {name} not scheduled for re-verify"
    # Every oracle-backed query the driver has never seen must be in the
    # window while slots remain (they all fit as of round 5: 37 never +
    # 2 red < 50).
    never = [
        n for n, s in REGISTRY.items()
        if s.oracle is not None and n not in _DRIVER_VERDICTS
    ]
    if len(never) + len(reds) <= DRIVER_WINDOW:
        for name in never:
            assert name in w, f"never-checked {name} left out of the window"


def test_settled_rotation_is_oldest_evidence_first():
    """r8 verdict task: with certification debt at zero, the driver
    window must re-certify the STALEST certifications, not the same 50
    low-seq names every round.  Invariants: (a) settled names appear
    in non-decreasing evidence-round order; (b) no settled
    name sits in the window while a STALER settled name waits outside
    (modulo unsettled names, which always come first); (c) when the
    whole registry is settled, the window's max evidence round is ≤ the
    min evidence round outside it."""
    from splitserve_spark.registry import (
        _DRIVER_EVIDENCE_ROUND, DRIVER_WINDOW, REGISTRY, _settled,
        ordered_registry,
    )
    names = list(ordered_registry())
    settled = [n for n in names if _settled(REGISTRY[n])]
    rounds = [_DRIVER_EVIDENCE_ROUND.get(n, 0) for n in settled]
    assert rounds == sorted(rounds), (
        "settled names not in oldest-evidence-first order"
    )
    # Unsettled-first is preserved: no settled name may precede an
    # unsettled one.
    seen_settled = False
    for n in names:
        if _settled(REGISTRY[n]):
            seen_settled = True
        else:
            assert not seen_settled, f"unsettled {n} after a settled name"
    if len(settled) == len(names) and len(names) > DRIVER_WINDOW:
        w, rest = names[:DRIVER_WINDOW], names[DRIVER_WINDOW:]
        max_in = max(_DRIVER_EVIDENCE_ROUND.get(n, 0) for n in w)
        min_out = min(_DRIVER_EVIDENCE_ROUND.get(n, 0) for n in rest)
        assert max_in <= min_out, (max_in, min_out)


def test_certification_debt_fits_one_window():
    """The r7 verdict's closing condition, enforced mechanically: every
    registered query is either already driver-certified (green under
    the latest committed CORRECTNESS_r*.json verdict, at the strength
    its oracle requires) or scheduled in the CURRENT driver window —
    i.e. one driver round closes the debt to zero.  Registering a new
    query is only possible while this still holds, so the registration
    freeze degrades gracefully instead of rotting: growth that would
    push an unsettled name out of the window fails here."""
    from splitserve_spark.registry import (
        REGISTRY, _settled, driver_window, load_all,
    )
    load_all()
    w = set(driver_window())
    stranded = [
        n for n, s in REGISTRY.items() if not _settled(s) and n not in w
    ]
    assert not stranded, (
        f"{len(stranded)} uncertified queries outside the driver window "
        f"(debt no longer closes in one round): {stranded}"
    )


def test_driver_green_derived_from_evidence():
    """_DRIVER_GREEN comes from the committed CORRECTNESS_r*.json files,
    latest-round-wins — it can no longer go stale by hand-editing."""
    import json
    import pathlib

    from splitserve_spark.registry import (
        _DRIVER_GREEN, _DRIVER_VERDICTS, _REPO_ROOT, verdict_ok,
    )
    files = sorted(_REPO_ROOT.glob("CORRECTNESS_r*.json"))
    assert files, "evidence files missing from repo root"
    # Latest-wins: the derived verdict for every name in the newest
    # evidence file must equal that file's verdict under the SHARED
    # pass rule (verdict_ok — including the err=='no_oracle' rows-only
    # convention the r6 close-out broke against).
    last = json.loads(files[-1].read_text())
    for name, v in last.items():
        assert _DRIVER_VERDICTS[name] == verdict_ok(v), name
    # Spot-check the rows-only branch concretely: a no_oracle entry
    # with a row count is a PASS, an entry with a real error is not.
    assert verdict_ok({"err": "no_oracle", "spark_rows": 7})
    assert not verdict_ok({"err": "no_oracle", "spark_rows": None})
    assert not verdict_ok({"err": "Traceback ...", "spark_rows": None})
    assert verdict_ok({"err": None, "hash_match": True, "rows_match": True})
    assert not verdict_ok({"err": None, "hash_match": False, "rows_match": True})
    assert _DRIVER_GREEN == frozenset(
        n for n, ok in _DRIVER_VERDICTS.items() if ok
    )


#: Per-user windows whose INPUT is provably bounded per key by
#: something other than corpus volume — the hazard is a hot key
#: serializing corpus-scale rows through one task; a window over a
#: per-key-bounded intermediate has no such rows to serialize.  Each
#: entry carries the bound; the guard asserts exempt names stay
#: registered so the list cannot rot.
SKEW_HAZARD_EXEMPT = {
    "events_resample_ffill": "the window runs over the calendar "
        "day-spine join (<= span-days rows per user, independent of "
        "event volume); the per-(user, day) aggregate BEFORE it "
        "absorbs a hot user map-side",
}


def test_skew_hazard_tags_name_existing_mitigations():
    """r9 VERDICT item 4: every per-key-window operator (a hot key
    serializes through ONE task — the shape no engine mechanism can
    split) must point its users at a registered split-and-stitch
    mitigation AT THE API LEVEL: a `skew_hazard:<name>` tag whose
    target exists and is itself tagged `skew_mitigation`, plus a
    SKEW HAZARD docstring note.

    The hazard set is detected MECHANICALLY from each query's source
    (Window.partitionBy on the user-scale key, or a SQL window
    `PARTITION BY user_id` in its oracle/text), so a future per-user
    window operator cannot land untagged."""
    import inspect
    import re

    from splitserve_spark.registry import load_all

    reg = load_all()
    for exempt in SKEW_HAZARD_EXEMPT:
        assert exempt in reg, f"stale skew-hazard exemption: {exempt}"
    hazard_pat = re.compile(
        r'Window\.partitionBy\(\s*"user_id"\s*\)'  # full-key window
        r"|partition\s+by\s+user_id\s+order\s+by", re.I)
    for name, spec in reg.items():
        tags = set(spec.tags)
        if "skew_mitigation" in tags or name in SKEW_HAZARD_EXEMPT:
            continue
        try:
            src = inspect.getsource(spec.fn)
        except (OSError, TypeError):
            continue
        oracle = spec.oracle or ""
        is_hazard = bool(hazard_pat.search(src) or hazard_pat.search(oracle))
        pointers = [t for t in tags if t.startswith("skew_hazard:")]
        if is_hazard:
            assert pointers, (
                f"{name}: per-user-key window detected but no "
                "skew_hazard:<mitigation> tag")
            assert "SKEW HAZARD" in (spec.doc or ""), (
                f"{name}: tagged skew_hazard but the docstring doesn't "
                "warn the user")
        for t in pointers:
            target = t.split(":", 1)[1]
            assert target in reg, f"{name}: mitigation {target} not registered"
            assert "skew_mitigation" in reg[target].tags, (
                f"{name}: mitigation {target} lacks the skew_mitigation tag")
    # The known hazard set must be tagged (regression pin).
    for known in ("sessionize_lag_cumsum", "stream_session_window",
                  "window_range_interval", "window_session_batch",
                  "window_running_distinct", "events_markov_transitions",
                  "events_bot_detection"):
        assert any(t.startswith("skew_hazard:") for t in reg[known].tags), known

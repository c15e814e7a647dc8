"""The driver verifies only the first 50 registry keys per round, so
__spark_entry__ rotates the window from recorded CORRECTNESS_r*.json
history in four tiers: the sentinel plus every key that is errored or
has no driver row, then forced re-checks, then rows-only keys due on
their 2-round cadence, then the verified tail oldest-green-round first.
Pure-Python logic — no Spark."""

from __future__ import annotations

import importlib.util
import json
import os

import pytest

WINDOW = 50
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _history(entry, root=None):
    """(verified, errored) keys, each decided by its LATEST driver row."""
    latest = entry._driver_latest(root)
    verified = {k for k, (_, row) in latest.items() if entry._green(row)}
    return verified, set(latest) - verified


@pytest.fixture(scope="module")
def entry():
    spec = importlib.util.spec_from_file_location(
        "spark_entry_under_test", os.path.join(REPO, "__spark_entry__.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_order_pinned_to_r15_history(entry, tmp_path, monkeypatch):
    """The window order over the committed r01-r15 driver history is
    pinned by digest, so any rewrite of the rotation rule must keep
    queries() and oracle_sql() byte-identical in order. The digest was
    recorded with no forced re-checks; entries added as code changes
    are data, not the rule (the forced tier has its own tests below)."""
    import hashlib
    import shutil

    from parquet_importer_spark.suite import ORACLES

    monkeypatch.setattr(entry, "_FORCE_RECHECK", {})
    for rnd in range(1, 16):
        shutil.copy(os.path.join(REPO, f"CORRECTNESS_r{rnd:02d}.json"), tmp_path)
    order = entry._driver_order(str(tmp_path))

    def digest(keys):
        return hashlib.sha256(json.dumps(keys).encode()).hexdigest()

    assert digest(order) == (
        "c4be4e99c6377640ddd83c010bf03edb7791f5352e3aea05adead74be1fd701c"
    )
    assert digest([k for k in order if k in ORACLES]) == (
        "1542cae5d08cefe4f57c00dc7d86e7eca4a0e5f22ee8986d13fadad1a4456b9e"
    )


def test_current_window_prioritizes_unverified_oracles(entry):
    from parquet_importer_spark.suite import ORACLES, QUERIES

    verified, errored = _history(entry)
    order = entry._driver_order()
    assert sorted(order) == sorted(QUERIES), "rotation must not drop keys"
    window = set(order[:WINDOW])
    # every key the driver has never verified and CAN hash-check must not
    # be displaced by an already-verified key (sentinel/errored excepted).
    unverified_oracle = {
        k for k in QUERIES if k not in verified and k in ORACLES
    }
    displaced = {
        k for k in order[:WINDOW]
        if k in verified
        and k != entry._SENTINEL
        and k not in errored
    }
    spill = unverified_oracle - window
    assert not (displaced and spill), (
        f"verified keys {displaced} occupy slots while oracle-bearing "
        f"{spill} wait outside the window"
    )


def test_history_parses_round_files(entry):
    verified, errored = _history(entry)
    assert "agg_groupby" in verified  # hash-green in round 1
    assert "llm_dedup_minhash_mllib" in verified  # rows-only, ran
    # crashed the canonicalizer in r01, fixed (scalar columns) and
    # rows-only green in r02 — the LATEST row decides
    assert "agg_approx_quantile" in verified
    assert "win_ranking" in verified  # hash-green in round 2


def test_rotation_advances_with_new_round(entry, tmp_path):
    """Dropping a synthetic next-round file must move its green keys to
    the back and surface a newly-errored key to the front."""
    r1 = {
        "a": {"hash_match": True, "err": None, "spark_rows": 1},
        "b": {"err": "no_oracle", "spark_rows": 5},
        "c": {"err": "boom", "spark_rows": None},
    }
    r2 = {
        "c": {"hash_match": True, "err": None, "spark_rows": 2},
        "d": {"err": "TypeError: ...", "spark_rows": None},
    }
    (tmp_path / "CORRECTNESS_r97.json").write_text(json.dumps(r1))
    verified, errored = _history(entry, str(tmp_path))
    assert verified == {"a", "b"} and errored == {"c"}
    (tmp_path / "CORRECTNESS_r98.json").write_text(json.dumps(r2))
    verified, errored = _history(entry, str(tmp_path))
    assert "c" in verified, "later green row clears the error"
    assert errored == {"d"}


def test_error_then_no_rerun_stays_prioritized(entry, tmp_path):
    """A key that errored and was never re-run must stay in the errored
    set even when later rounds exist."""
    (tmp_path / "CORRECTNESS_r97.json").write_text(
        json.dumps({"x": {"err": "crash", "spark_rows": None}})
    )
    (tmp_path / "CORRECTNESS_r98.json").write_text(
        json.dumps({"y": {"hash_match": True, "err": None, "spark_rows": 1}})
    )
    verified, errored = _history(entry, str(tmp_path))
    assert errored == {"x"} and verified == {"y"}


# The only keys allowed to ship WITHOUT a DuckDB oracle. Adding a new
# rows-only key means arguing here (and in SURVEY §2) why no oracle can
# exist; everything else must register in both QUERIES and ORACLES, so
# the expected counts derive from the registry instead of a hand-bumped
# literal (which went stale twice in round 7).
ROWS_ONLY_ALLOWLIST = frozenset(
    {
        # round 11 flipped the three multimodal keys to full-value
        # oracles (ASCII byte-slice + decimal-grid entropy contracts,
        # suite/llm_multimodal.py); only the live-DB sink remains.
        "sink_postgis",  # live-DB side effects
    }
)


def test_queries_and_oracles_consistent(entry):
    from parquet_importer_spark.suite import ORACLES, QUERIES

    q = entry.queries()
    o = entry.oracle_sql()
    assert list(o) == [k for k in q if k in ORACLES], (
        "oracle_sql order must follow queries order"
    )
    assert set(q) == set(QUERIES) and set(o) == set(ORACLES)
    missing = set(q) - set(o)
    assert missing == ROWS_ONLY_ALLOWLIST, (
        "every query needs an oracle unless allowlisted rows-only; "
        f"unexpected oracle-less keys: {sorted(missing - ROWS_ONLY_ALLOWLIST)}; "
        f"allowlisted keys that now HAVE oracles (remove from allowlist): "
        f"{sorted(ROWS_ONLY_ALLOWLIST - missing)}"
    )


def test_bench_stdout_line_fits_driver_capture():
    """The driver keeps only the LAST 2000 chars of bench.py stdout and
    JSON-parses them; rounds 2-3 lost the BENCH metric ("parsed": null)
    when diagnostics grew the single output line past that window. The
    compact result line — metric/value/unit/fixture/queries/sf with a
    worst-case timing per headline query — must stay comfortably inside
    the capture (<1860 chars leaves headroom; n_queries/sec_per_query
    are derivable and live in the stderr detail record)."""
    import bench

    worst = {
        "metric": "headline_suite_total",
        "value": 99999.999,
        "unit": "sec",
        "fixture": {
            "documents": 99_999_999_999,
            "doc_tokens": 99_999_999_999_999,
            "lineitem": 99_999_999_999,
        },
        # 99.999 s/query is the conservative ceiling: one query at that
        # level is already a driver-budget blowout (the real per-query
        # worst across r1-r7 is <5 s), and 52 of them would be a
        # 90-minute suite no driver would wait out
        "queries": {qid: 99.999 for qid in bench.HEADLINE},
        "sf": 0.1,
        # r15: the sentinel designations are names-only (timings stay
        # in `queries`); the worst-case line must absorb the list
        "sentinels": list(bench.SENTINEL_KEYS),
        "ambient": {
            "dr": 99.99,
            "busy": 100.0,
            "mv": 99,
        },
    }
    line = json.dumps(worst)
    # 1860 since r15 (was 1800): the sentinels designation adds ~75
    # fixed chars; the driver capture is 2000, so 140 chars of
    # headroom remain for the truncation-side margin.
    assert len(line) < 1860, (
        f"bench stdout line is {len(line)} chars; trim the headline or "
        "shorten query ids so the driver's 2000-char tail capture parses"
    )


def test_rows_only_keys_reenter_on_cadence(entry, tmp_path):
    """A green rows-only key (err == "no_oracle", no local hash proof
    possible) whose latest row is >= 2 rounds older than the newest
    recorded round must re-enter the 50-slot window ahead of the
    verified tail (round-12 verdict item 3: sink_postgis sat at r10
    for two rounds with no standing re-confirmation rule).

    Driven by SYNTHETIC CORRECTNESS fixtures so the cadence tier is
    exercised every round — the live-history variant skipped whenever
    nothing was due (e.g. right after a rotation), which is exactly
    when a regression in the due computation would go unseen
    (round-13 verdict item 8 / round-14 advice)."""
    from parquet_importer_spark.suite import ORACLES, QUERIES

    rows_only = next(k for k in QUERIES if k not in ORACLES)
    others = [k for k in QUERIES if k != rows_only]

    # DUE: rows-only green at r01, everything else hash-green at r03
    # (newest 3 - 2 = 1 >= 1) → must rank ahead of the whole verified
    # tail, inside the window.
    (tmp_path / "CORRECTNESS_r97.json").write_text(json.dumps({
        rows_only: {"err": "no_oracle", "spark_rows": 13},
    }))
    (tmp_path / "CORRECTNESS_r99.json").write_text(json.dumps({
        k: {"hash_match": True, "err": None, "spark_rows": 3}
        for k in others
    }))
    order = entry._driver_order(str(tmp_path))
    pos = {k: i for i, k in enumerate(order)}
    assert pos[rows_only] < WINDOW, (
        f"due rows-only key {rows_only} at slot {pos[rows_only]} is "
        f"outside the {WINDOW}-slot window"
    )
    tail_head = min(pos[k] for k in others if k != entry._SENTINEL)
    assert pos[rows_only] < tail_head, (
        "due rows-only key must precede the verified tail"
    )

    # NOT due: rows-only green at r02 against the same r03 tail, with
    # a control group verified at r01 — staleness ordering must put the
    # r01 keys first; a due-computation regression would float the
    # rows-only key ahead of them.
    stale_ctl = others[: WINDOW // 2]
    fresh = others[WINDOW // 2:]
    (tmp_path / "CORRECTNESS_r97.json").write_text(json.dumps({
        k: {"hash_match": True, "err": None, "spark_rows": 3}
        for k in stale_ctl
    }))
    (tmp_path / "CORRECTNESS_r98.json").write_text(json.dumps({
        rows_only: {"err": "no_oracle", "spark_rows": 13},
    }))
    (tmp_path / "CORRECTNESS_r99.json").write_text(json.dumps({
        k: {"hash_match": True, "err": None, "spark_rows": 3}
        for k in fresh
    }))
    order = entry._driver_order(str(tmp_path))
    pos = {k: i for i, k in enumerate(order)}
    for k in stale_ctl:
        assert pos[k] < pos[rows_only], (
            f"not-yet-due rows-only key {rows_only} (r02) outranks "
            f"staler verified key {k} (r01) — cadence fired early"
        )


def test_verified_tail_is_staleness_ordered(entry):
    """Within the verified tail, keys whose last green row is older
    must sort before more recently confirmed keys, so r1-verified keys
    cycle back through the window instead of the same early-registry
    keys being re-checked every round (round-5 verdict, item #3)."""
    latest = entry._driver_latest()
    verified, errored = _history(entry)
    order = entry._driver_order()
    tail = [
        k
        for k in order
        if k in verified
        and k != entry._SENTINEL
        and k not in errored
        # force-recheck keys (code changed after their green row) jump
        # ahead of the stale rotation by design — not part of the tail
        and not (
            k in entry._FORCE_RECHECK
            and latest[k][0] < entry._FORCE_RECHECK[k]
        )
        # rows-only keys on their standing 2-round re-confirmation
        # cadence rank in their own tier — not part of the tail
        and not (
            latest[k][1].get("err") == "no_oracle"
            and latest[k][0]
            <= max(r for r, _ in latest.values()) - 2
        )
    ]
    rounds = [latest[k][0] for k in tail]
    assert rounds == sorted(rounds), (
        "verified tail must be ordered oldest-green-round first"
    )
    if len(set(rounds)) > 1:
        assert rounds[0] < rounds[-1]


def test_unrecorded_key_ranks_in_first_tier(entry, tmp_path, monkeypatch):
    """A registered key with no driver row at all ranks with the sentinel
    in tier 1, ahead of forced re-checks and of the stalest verified
    keys."""
    from parquet_importer_spark.suite import QUERIES

    names = [k for k in QUERIES if k != entry._SENTINEL]
    unrecorded, forced = names[-1], names[-2]
    stale, fresh = names[:WINDOW], names[WINDOW:-1]
    green = {"hash_match": True, "err": None, "spark_rows": 3}
    (tmp_path / "CORRECTNESS_r97.json").write_text(json.dumps(
        {k: green for k in stale}
    ))
    (tmp_path / "CORRECTNESS_r99.json").write_text(json.dumps(
        {k: green for k in [entry._SENTINEL, *fresh]}
    ))
    monkeypatch.setitem(entry._FORCE_RECHECK, forced, 100)
    order = entry._driver_order(str(tmp_path))
    pos = {k: i for i, k in enumerate(order)}
    assert pos[unrecorded] <= 1, (
        f"unrecorded key {unrecorded} at slot {pos[unrecorded]} is not in "
        "the first tier"
    )
    assert pos[unrecorded] < pos[forced] < min(pos[k] for k in stale)


def test_regression_reenters_priority_tier(entry, tmp_path):
    """A once-green key whose LATEST row errors or hash-mismatches must
    move back into the errored (re-verify) set — the rotation must not
    be regression-blind."""
    (tmp_path / "CORRECTNESS_r97.json").write_text(
        json.dumps({
            "x": {"hash_match": True, "err": None, "spark_rows": 1},
            "z": {"hash_match": True, "err": None, "spark_rows": 3},
        })
    )
    (tmp_path / "CORRECTNESS_r98.json").write_text(
        json.dumps({
            "x": {"err": "OOM", "spark_rows": None},
            "z": {"hash_match": False, "err": None, "spark_rows": 3},
        })
    )
    verified, errored = _history(entry, str(tmp_path))
    assert "x" in errored and "z" in errored
    assert "x" not in verified and "z" not in verified


def test_survey_inventory_matches_registry(entry):
    """SURVEY.md §2 is the judged contract: every §2 row id must be a
    registered query and every registered query (except the §7.2
    flagship) must have a §2 row."""
    import re

    s = open(
        os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "SURVEY.md",
        )
    ).read()
    sec2 = s[s.index("\n## 2. ") : s.index("\n## 3. ")]
    survey = set(re.findall(r"^\| `([a-z0-9_]+)`", sec2, re.M))
    registered = set(entry.queries())
    assert survey - registered == set(), (
        f"SURVEY §2 rows without a registered query: {survey - registered}"
    )
    assert registered - survey == {"flagship_pricing_summary"}, (
        f"registered queries missing a SURVEY §2 row: "
        f"{registered - survey - {'flagship_pricing_summary'}}"
    )

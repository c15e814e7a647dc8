"""Driver-row currency guard (round-8 verdict item 8).

The declared verification bar is a green DRIVER row for the code AS
SHIPPED: a hash-green row recorded before a rewrite certifies the old
implementation, not the current one. Round 8 shipped 11 rewrites whose
rows predated the change; the fix was a one-off forensic list. This
test makes the discipline permanent: any registered query whose
implementing function's source lines changed since the newest
CORRECTNESS_r{N}.json was recorded MUST be scheduled for re-check in
``__spark_entry__._FORCE_RECHECK`` with a round value > N (so the
rotation puts it at the front of the next driver window and graduates
it automatically once the driver re-confirms).

Granularity is the decorated function's source span per git diff
(base = the commit that last touched the newest COMMITTED correctness
file, compared against the WORKING TREE, so uncommitted edits count
too; an uncommitted newest-round file falls back to the prior round's
commit instead of silently disabling the guard — round-9 advice).
Docstring-only edits are exempted PRECISELY (round-9 verdict hint):
a flagged function whose AST — docstrings stripped, nested defs
included — is byte-identical between base and working tree changed no
behavior, so its existing driver row still certifies the shipped
code. Anything the AST comparison can't prove identical (new
function, parse failure, any non-docstring node) flags conservatively
— a cheap re-check beats a stale certification. Shared-helper edits
(operators/*) are out of scope here; in practice every helper change
this repo has shipped also touched its suite-level consumers'
behavior lines, which this guard sees.
"""

from __future__ import annotations

import ast
import copy
import glob
import importlib.util
import inspect
import os
import re
import subprocess

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _entry_module():
    spec = importlib.util.spec_from_file_location(
        "spark_entry_currency", os.path.join(REPO, "__spark_entry__.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _newest_correctness() -> tuple[int, str] | None:
    """(round, base commit) of the newest correctness file that git
    knows about. The newest round's file is typically untracked while
    that round is still being built — `git log -1 -- <file>` returns
    empty for it, and returning None there would disable the guard in
    exactly the tree that needs it (round-9 advice). Walk down to the
    newest COMMITTED file instead; its commit is the correct diff base
    because every row in an uncommitted newer file was measured against
    code at-or-after that commit anyway."""
    files = glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json"))
    for path in sorted(
        files,
        key=lambda p: int(re.search(r"r(\d+)", os.path.basename(p)).group(1)),
        reverse=True,
    ):
        rnd = int(re.search(r"r(\d+)", os.path.basename(path)).group(1))
        base = subprocess.run(
            ["git", "log", "-1", "--format=%H", "--", os.path.basename(path)],
            cwd=REPO,
            capture_output=True,
            text=True,
            check=True,
        ).stdout.strip()
        if base:
            return (rnd, base)
    return None


def _changed_ranges(base: str) -> dict[str, list[tuple[int, int]]]:
    """{repo-relative path: [(new_start, new_end_inclusive), ...]} for
    every suite/package .py changed between base and the working tree."""
    names = subprocess.run(
        ["git", "diff", "--name-only", base, "--", "parquet_importer_spark"],
        cwd=REPO,
        capture_output=True,
        text=True,
        check=True,
    ).stdout.split()
    out: dict[str, list[tuple[int, int]]] = {}
    for path in names:
        if not path.endswith(".py"):
            continue
        diff = subprocess.run(
            ["git", "diff", "-U0", base, "--", path],
            cwd=REPO,
            capture_output=True,
            text=True,
            check=True,
        ).stdout
        ranges = []
        for m in re.finditer(r"^@@ -\d+(?:,\d+)? \+(\d+)(?:,(\d+))? @@", diff, re.M):
            start = int(m.group(1))
            count = int(m.group(2)) if m.group(2) is not None else 1
            # a pure deletion (count 0) still perturbs the surrounding
            # function — anchor it to the preceding line
            ranges.append((max(start, 1), max(start + count - 1, start)))
        if ranges:
            out[path] = ranges
    return out


def _strip_docstrings(node: ast.AST) -> ast.AST:
    """Remove every docstring (module/class/function, nested included)
    from a COPY of the tree, so two versions differing only in doc
    text compare equal under ast.dump."""
    node = copy.deepcopy(node)
    for sub in ast.walk(node):
        if isinstance(
            sub, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)
        ) and sub.body:
            first = sub.body[0]
            if (
                isinstance(first, ast.Expr)
                and isinstance(first.value, ast.Constant)
                and isinstance(first.value.value, str)
            ):
                # keep the body non-empty (a docstring-only body would
                # otherwise become syntactically invalid for dump)
                sub.body = sub.body[1:] or [ast.Pass()]
    return node


def _function_dumps(source: str, name: str) -> list[str] | None:
    """Docstring-stripped ast.dump of every def named `name` in
    `source`, or None if the source doesn't parse."""
    try:
        tree = ast.parse(source)
    except SyntaxError:
        return None
    return sorted(
        ast.dump(_strip_docstrings(sub))
        for sub in ast.walk(tree)
        if isinstance(sub, (ast.FunctionDef, ast.AsyncFunctionDef))
        and sub.name == name
    )


def _doc_only_change(base: str, rel: str, fn_name: str) -> bool:
    """True iff every def named `fn_name` in `rel` has an identical
    docstring-stripped AST at `base` and in the working tree — i.e.
    the flagged diff cannot have changed the function's behavior."""
    shown = subprocess.run(
        ["git", "show", f"{base}:{rel}"],
        cwd=REPO,
        capture_output=True,
        text=True,
    )
    if shown.returncode != 0:
        return False  # file absent at base: not provably doc-only
    try:
        with open(os.path.join(REPO, rel)) as fh:
            now = fh.read()
    except OSError:
        return False
    then_dumps = _function_dumps(shown.stdout, fn_name)
    now_dumps = _function_dumps(now, fn_name)
    return (
        then_dumps is not None
        and now_dumps is not None
        and bool(now_dumps)
        and then_dumps == now_dumps
    )


def _known_rounds(key: str) -> list[int]:
    """Rounds whose CORRECTNESS_r{N}.json carries a row for `key`
    (committed or not — presence in ANY artifact dates the key's
    existence)."""
    import json

    rounds = []
    for path in glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json")):
        rnd = int(re.search(r"r(\d+)", os.path.basename(path)).group(1))
        try:
            with open(path) as fh:
                rows = json.load(fh)
        except (OSError, ValueError):
            continue
        if key in rows:
            rounds.append(rnd)
    return rounds


def _new_key_is_current(known_rounds: list[int], base_round: int) -> bool:
    """Round-11 verdict item 1 — the CLASS fix for keys BORN after the
    diff base. A key absent from every correctness artifact <= the
    diff-base round did not exist at the base commit, so the entire
    flagged diff IS its creation; its first green driver row (> the
    base round by construction) necessarily measured code at-or-after
    that creation and certifies it without a ``_FORCE_RECHECK`` entry.
    The round-10 fix only handled keys WITH a satisfied entry, leaving
    round-N-born keys reading as "changed since r{N-1}, unscheduled"
    in the window where CORRECTNESS_r{N}.json is still uncommitted —
    a false positive two rounds running."""
    return bool(known_rounds) and min(known_rounds) > base_round


def _recheck_covers(entry_round: int, latest_green_round: int) -> bool:
    """True iff a ``_FORCE_RECHECK`` value certifies the key's latest
    green driver row as current: scheduled for a FUTURE round (entry >
    latest) or already satisfied THAT round (entry == latest — the
    entry's documented graduation case)."""
    return entry_round >= latest_green_round


def test_recheck_satisfied_same_round_is_not_an_offender():
    """Round-10 verdict item 1: a _FORCE_RECHECK entry equal to the
    key's latest green round means the driver already re-confirmed the
    change that round — the guard must not flag it during the window
    where that round's correctness file is still uncommitted."""
    assert _recheck_covers(10, 10)  # satisfied same round
    assert _recheck_covers(11, 10)  # scheduled for next round
    assert not _recheck_covers(9, 10)  # stale entry: change postdates it
    assert not _recheck_covers(0, 10)  # absent entry


def test_new_key_without_recheck_entry_is_not_an_offender():
    """Round-11 verdict item 1 (the sibling blind spell of the round-10
    case): a key born in round N has no _FORCE_RECHECK entry, and while
    CORRECTNESS_r{N}.json is uncommitted the diff base is the r{N-1}
    commit — the guard must read its r{N} green row as certifying its
    creation, not flag it as "changed since r{N-1}, unscheduled"."""
    # born in r11, diff base r10: current (the round-11 false positive)
    assert _new_key_is_current([11], 10)
    # born in r11 and re-checked since: still current vs an r10 base
    assert _new_key_is_current([11, 12], 10)
    # existed at the base round: NOT a new key — the normal schedule
    # discipline applies
    assert not _new_key_is_current([10, 11], 10)
    assert not _new_key_is_current([5], 10)
    # no artifact knows the key at all: not provably new — flag
    assert not _new_key_is_current([], 10)


def test_known_rounds_reads_all_artifacts():
    """_known_rounds must see every CORRECTNESS_r*.json, committed or
    not — the sentinel appears in all of them."""
    rounds = _known_rounds("flagship_pricing_summary")
    assert rounds, "sentinel missing from every correctness artifact"
    assert min(rounds) == 1


def test_changed_queries_are_scheduled_for_recheck():
    meta = _newest_correctness()
    if meta is None:
        return  # round 1: no driver history, everything is tier-new
    rnd, base = meta
    changed = _changed_ranges(base)
    if not changed:
        return

    import sys

    sys.path.insert(0, REPO)
    from parquet_importer_spark.suite import QUERIES

    entry = _entry_module()
    latest = entry._driver_latest(REPO)

    offenders = []
    for key, fn in QUERIES.items():
        fn = inspect.unwrap(fn)
        try:
            src = inspect.getsourcefile(fn)
            lines, start = inspect.getsourcelines(fn)
        except (OSError, TypeError):
            continue
        rel = os.path.relpath(src, REPO)
        spans = changed.get(rel)
        if not spans:
            continue
        end = start + len(lines) - 1
        if not any(a <= end and b >= start for a, b in spans):
            continue
        if _doc_only_change(base, rel, fn.__name__):
            continue  # prose changed, behavior didn't: row still current
        # this key's implementation changed since round `rnd` recorded
        if key not in latest:
            continue  # never driver-checked: already in tier 1
        if not entry._green(latest[key][1]):
            continue  # errored latest row: already in tier 1
        if _new_key_is_current(_known_rounds(key), rnd):
            continue  # born after the diff base: green row postdates creation
        # An entry EQUAL to the key's latest green round is SATISFIED,
        # not unscheduled: per the entry's graduation semantics
        # (__spark_entry__._FORCE_RECHECK docstring) a green row in
        # round >= the entry's value means the driver re-confirmed the
        # changed code that round. Requiring strictly-greater produced
        # a false positive every round in the window between the driver
        # run and the artifact commit (round-10 verdict item 1): the
        # diff base falls back to the PRIOR round's commit while
        # latest[key] already carries the new round's green row, so the
        # satisfied same-round entry read as missing. Residual blind
        # spot (accepted): a change made after that round's driver run
        # but before its artifacts commit; closes as soon as the
        # artifacts land, because the base then advances past the run.
        scheduled = _recheck_covers(
            entry._FORCE_RECHECK.get(key, 0), latest[key][0]
        )
        if not scheduled:
            offenders.append(
                f"{key} (latest green r{latest[key][0]}, source {rel}:{start})"
            )
    assert not offenders, (
        "queries changed since CORRECTNESS_r%d but not scheduled in "
        "__spark_entry__._FORCE_RECHECK: %s" % (rnd, ", ".join(offenders))
    )


def test_doc_only_exemption_is_precise():
    """The AST comparison must exempt docstring edits (top-level and
    nested) and nothing else — a constant, operator, or default tweak
    still flags."""
    base = (
        "def q(spark, sf):\n"
        '    """old prose."""\n'
        "    def inner():\n"
        '        """old inner prose."""\n'
        "        return 1\n"
        "    return inner() + 2\n"
    )
    doc_edit = base.replace("old prose", "new prose").replace(
        "old inner prose", "new inner prose"
    )
    behavior_edit = base.replace("+ 2", "+ 3")
    default_edit = base.replace("def q(spark, sf):", "def q(spark, sf=1):")
    assert _function_dumps(base, "q") == _function_dumps(doc_edit, "q")
    assert _function_dumps(base, "q") != _function_dumps(behavior_edit, "q")
    assert _function_dumps(base, "q") != _function_dumps(default_edit, "q")
    assert _function_dumps("def q(:\n", "q") is None  # parse failure flags
    assert _function_dumps(base, "absent") == []  # missing def flags


def test_newest_correctness_skips_untracked(tmp_path):
    """An uncommitted newest-round file must not disable the guard:
    the returned base is always a real commit (round-9 advice)."""
    meta = _newest_correctness()
    assert meta is not None, "no committed correctness file found"
    rnd, base = meta
    assert re.fullmatch(r"[0-9a-f]{40}", base)
    shown = subprocess.run(
        ["git", "cat-file", "-t", base], cwd=REPO, capture_output=True, text=True
    )
    assert shown.stdout.strip() == "commit"


def test_force_recheck_keys_are_registered():
    import sys

    sys.path.insert(0, REPO)
    from parquet_importer_spark.suite import QUERIES

    entry = _entry_module()
    unknown = [k for k in entry._FORCE_RECHECK if k not in QUERIES]
    assert not unknown, f"_FORCE_RECHECK names unknown queries: {unknown}"

"""Correctness-window seating rules.

The driver records only the FIRST 50 queries of ``queries()`` in
CORRECTNESS_r{N}.json. ``__spark_entry__.WINDOW_FIRST`` names the
queries seated there ahead of module order, and every query that
lacks two consecutive driver greens must be among them, so no new or
unproven query can drift outside the window unchecked.

Green streaks come from the git-TRACKED CORRECTNESS_r*.json history
in round order: present+green extends a streak, present+red resets
it, absent leaves it unchanged; a query never recorded has streak 0.
Only committed files count, because the driver drops the current
round's artifact untracked into the worktree before running pytest.
"""

from __future__ import annotations

import glob
import json
import os
import re
import subprocess
import warnings

import __spark_entry__ as entry_mod

DRIVER_WINDOW = 50
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _round_of(path: str) -> int:
    return int(re.search(r"r(\d+)", os.path.basename(path)).group(1))


def _tracked_correctness_paths() -> "list[str]":
    """CORRECTNESS_r*.json files that are committed, in round order.
    Outside a git checkout every file on disk counts, with a warning."""
    on_disk = sorted(
        glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json")), key=_round_of
    )
    try:
        out = subprocess.run(
            ["git", "-C", REPO, "ls-files", "CORRECTNESS_r*.json"],
            capture_output=True, text=True, timeout=30, check=True,
        ).stdout.split()
    except (OSError, subprocess.SubprocessError) as exc:
        warnings.warn(
            f"git ls-files failed ({exc!r}); streaks use every "
            f"CORRECTNESS_r*.json on disk, tracked or not"
        )
        return on_disk
    tracked = {os.path.basename(p) for p in out}
    return [p for p in on_disk if os.path.basename(p) in tracked]


def _green_streaks() -> dict[str, int]:
    streak: dict[str, int] = {}
    for path in _tracked_correctness_paths():
        with open(path) as f:
            recs = json.load(f)
        for q, rec in recs.items():
            ok = all(rec.get(k) for k in
                     ("rows_match", "schema_match", "hash_match"))
            streak[q] = streak.get(q, 0) + 1 if ok else 0
    return streak


def test_window_first_leads_the_registry():
    first = list(entry_mod.WINDOW_FIRST)
    order = list(entry_mod.queries())  # KeyError on an unregistered name
    assert len(first) == len(set(first)), "WINDOW_FIRST has duplicates"
    assert len(first) <= DRIVER_WINDOW
    assert order[: len(first)] == first


def test_unproven_queries_are_in_window_first():
    streaks = _green_streaks()
    unproven = {
        q for q in entry_mod.queries() if streaks.get(q, 0) < 2
    } - set(entry_mod.WINDOW_FIRST)
    assert not unproven, (
        f"queries with <2 consecutive driver greens must be listed in "
        f"__spark_entry__.WINDOW_FIRST: {sorted(unproven)}"
    )


def test_round_files_sort_numerically():
    """r100 must sort after r11 (lexicographic order would break
    streak derivation once rounds reach 3 digits)."""
    files = ["CORRECTNESS_r2.json", "CORRECTNESS_r100.json",
             "CORRECTNESS_r11.json"]
    assert sorted(files, key=_round_of) == [
        "CORRECTNESS_r2.json",
        "CORRECTNESS_r11.json",
        "CORRECTNESS_r100.json",
    ]


def test_no_duplicate_registrations():
    """No module may appear twice in _MODULES, and no query name may
    be contributed by two modules: a duplicate silently shifts every
    later query's slot in the registration order."""
    mods = entry_mod._MODULES
    seen_ids: dict[int, int] = {}
    for i, m in enumerate(mods):
        assert id(m) not in seen_ids, (
            f"_MODULES entry {i} is the same object as entry "
            f"{seen_ids[id(m)]} ({m.__name__})"
        )
        seen_ids[id(m)] = i
    owners: dict[str, str] = {}
    for m in mods:
        for q in m.QUERIES:
            assert q not in owners, (
                f"query {q!r} registered by {owners[q]} and {m.__name__}"
            )
            owners[q] = m.__name__


def test_registry_is_consistent():
    """Every query has a callable; every oracle key is a query key (a
    dangling oracle means a renamed query silently loses its gate)."""
    qs = entry_mod.queries()
    assert all(callable(f) for f in qs.values())
    dangling = sorted(set(entry_mod.oracle_sql()) - set(qs))
    assert not dangling, f"oracles without a matching query: {dangling}"

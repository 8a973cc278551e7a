"""The registry order is derived from the driver's record: the first
``WINDOW`` entries are the ones the driver checks next, so they must be
the queries whose latest external check is missing, outdated by an
oracle edit, or oldest (``queries/freshness.py``).  Nothing here pins a
round: every assertion reads the record as it stands on disk, so the
suite stays green when the driver writes its next CORRECTNESS file."""
from __future__ import annotations

import hashlib
import json
import os
import shutil
import sys

from go_mailio_diskusage_handler_spark.queries import freshness
from go_mailio_diskusage_handler_spark.registry import ORACLE_SQL, QUERIES

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _oracle_hashes() -> dict[str, dict]:
    with open(os.path.join(REPO_ROOT, "ORACLE_HASHES.json")) as fh:
        return json.load(fh)


def _oracle_round() -> dict[str, int]:
    return {n: v["round"] for n, v in _oracle_hashes().items()}


def _changed(last: dict[str, int]) -> set[str]:
    """Queries whose oracle changed after their latest driver row."""
    rounds = _oracle_round()
    return {n for n in QUERIES if n in last and rounds[n] > last[n]}


def _window() -> list[str]:
    return list(QUERIES)[: freshness.WINDOW]


def test_derivation_is_idempotent_under_its_own_rotation():
    """The registry is already in derived order, so deriving again from
    it changes nothing, and the oracles follow the same order."""
    names = list(QUERIES)
    last = freshness.last_checked(REPO_ROOT)
    assert freshness.driver_order(names, last, _oracle_round()) == names
    assert list(ORACLE_SQL) == [n for n in names if n in ORACLE_SQL]


def test_ordering_fronts_changed_then_never_checked_then_oldest():
    names = ["fresh", "old", "never", "edited", "stale", "edited_old"]
    last = {"fresh": 9, "old": 5, "edited": 8, "stale": 3, "edited_old": 2}
    oracle_round = {"edited": 9, "edited_old": 3, "fresh": 4, "old": 5}
    assert freshness.driver_order(names, last, oracle_round) == [
        "edited",  # changed, by name
        "edited_old",
        "never",
        "stale",  # then ascending latest-check round
        "old",  # an oracle edited IN its check round is not changed
        "fresh",
    ]


def test_ordering_breaks_ties_by_name():
    names = ["b", "a", "n2", "c", "n1", "x2", "x1"]
    last = {"a": 4, "b": 4, "c": 2, "x1": 1, "x2": 1}
    oracle_round = {"x1": 7, "x2": 7}
    assert freshness.driver_order(names, last, oracle_round) == [
        "x1", "x2", "n1", "n2", "c", "a", "b",
    ]
    # and a missing driver record sorts purely by name
    assert freshness.driver_order(names, {}, {}) == sorted(names)


def test_window_resamples_only_changed_queries():
    """The window shares no query with the latest CORRECTNESS sample
    unless that query's oracle has changed since its check, so
    consecutive driver rounds sample different queries."""
    last = freshness.last_checked(REPO_ROOT)
    latest = max(last.values())
    with open(os.path.join(REPO_ROOT, f"CORRECTNESS_r{latest:02d}.json")) as fh:
        sampled = set(json.load(fh))
    repeat = set(_window()) & sampled
    assert repeat <= _changed(last), sorted(repeat - _changed(last))


def test_no_query_left_behind():
    """Freshness floor: a query is below the floor when its latest
    driver row is older than ``latest_round - 4`` or missing.  A
    260+-query registry over a 50-slot window has a revisit period of
    just over 5 rounds, so age 4 is the tightest sustainable floor.
    When the window cannot hold every sub-floor query, it must be
    saturated: every non-changed query in it is below the floor."""
    last = freshness.last_checked(REPO_ROOT)
    floor = max(last.values()) - 4
    window = _window()
    below = {n for n in QUERIES if last.get(n, -1) < floor}
    if below - set(window):
        changed = _changed(last)
        assert all(n in below for n in window if n not in changed)
    # and the capacity arithmetic itself: restated so a future registry
    # growth that breaks sustainability fails loudly here.
    backlog = list(QUERIES)
    assert len(backlog) <= 5 * freshness.WINDOW + freshness.WINDOW, (
        "registry outgrew the 6-round revisit capacity; renegotiate "
        "the floor or the window"
    )


def test_changed_oracles_meet_the_gate():
    """Every query whose oracle text changed after its latest driver
    row (per ORACLE_HASHES.json, regenerated by tools_oracle_hashes.py)
    is inside the driver window."""
    hashes = _oracle_hashes()
    # the file must cover the registry exactly (regenerate on changes)
    assert set(hashes) == set(QUERIES)
    stale = [
        n for n, sql in ORACLE_SQL.items()
        if hashlib.sha256(sql.encode()).hexdigest()[:16] != hashes[n]["hash"]
    ]
    assert stale == [], (
        f"oracle text changed without regenerating ORACLE_HASHES.json "
        f"(run tools_oracle_hashes.py): {stale}"
    )
    changed = _changed(freshness.last_checked(REPO_ROOT))
    assert len(changed) <= freshness.WINDOW, (
        "more changed oracles than the driver window can check in one round"
    )
    assert changed <= set(_window()), sorted(changed - set(_window()))


def test_oracle_hash_tool_reports_only_changed_hashes(tmp_path, monkeypatch, capsys):
    """A rerun of ``tools_oracle_hashes.py`` over its own output names no
    oracle and rewrites the file byte for byte: an entry stamped with
    the current round by an earlier run is not a change."""
    import tools_oracle_hashes as tool

    out = tmp_path / "ORACLE_HASHES.json"
    shutil.copy(os.path.join(REPO_ROOT, "ORACLE_HASHES.json"), out)
    monkeypatch.setattr(tool, "OUT", str(out))
    monkeypatch.setattr(sys, "argv", ["tools_oracle_hashes.py"])
    tool.main()
    first = out.read_bytes()
    capsys.readouterr()
    tool.main()
    assert "0 oracle(s) changed/new: []" in capsys.readouterr().out
    assert out.read_bytes() == first

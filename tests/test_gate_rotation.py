"""Gate-rotation invariants: the driver checks EXACTLY the first 50
``queries()`` entries, so the explicit _FIRST50 list must stay a
well-formed permutation prefix — 50 unique declared names, returned in
that order — and every declared query must carry an oracle twin (the
driver's weaker rows-only path is opt-out by omission, which this repo
never uses)."""

import sys

sys.path.insert(0, "/root/repo")
import __spark_entry__ as entrymod


def test_first50_is_the_gate_prefix():
    names = list(entrymod.queries())
    assert len(entrymod._FIRST50) == 50
    assert len(set(entrymod._FIRST50)) == 50
    assert names[:50] == entrymod._FIRST50
    assert len(names) == len(set(names))


def test_every_query_has_an_oracle_and_vice_versa():
    q = set(entrymod.queries())
    o = set(entrymod.oracle_sql())
    assert q == o, (sorted(q - o), sorted(o - q))


def test_rotation_report_shape(tmp_path):
    """rotation_report (r10 verdict item 8) over a synthetic
    CORRECTNESS history: latest-round union, histogram, never-gated
    detection, and the gate-coverage count."""
    import json
    names = list(entrymod.queries())
    a, b, c = names[0], names[1], names[2]
    (tmp_path / "CORRECTNESS_r01.json").write_text(
        json.dumps({a: {}, b: {}}))
    (tmp_path / "CORRECTNESS_r02.json").write_text(json.dumps({b: {}}))
    rep = entrymod.rotation_report(str(tmp_path))
    assert rep["kind"] == "rotation_report"
    assert rep["declared"] == len(names)
    assert rep["histogram"] == {"1": 1, "2": 1}
    assert rep["oldest_round"] == 1
    assert rep["oldest_queries"] == [a]
    assert c in rep["never_gated"]
    assert len(rep["never_gated"]) == len(names) - 2
    # a, b, c are all in _FIRST50 (gate prefix == first names): a is
    # oldest, b is not, c is never-gated -> both a and c count
    assert rep["gate_oldest_or_new_slots"] == 49  # all but b


#: gate slots the rotation may spend on non-oldest, non-new entries
#: (bench regression canaries + changed-kernel regates); everything
#: else must go to never-gated queries and the oldest block
DISCRETIONARY_SLOTS = 4


def test_rotation_report_live_history():
    """Against the real repo history: every declared query is either
    driver-checked in some round or a THIS-round addition; every
    never-gated query holds a gate slot; and the oldest block fills
    every remaining slot (all of it when it fits — the r11 shape — or
    the maximal subset when it is larger than the gate, the r12+
    shape once a 40+-query round block becomes the oldest)."""
    rep = entrymod.rotation_report()
    gate = set(entrymod._FIRST50)
    assert rep["declared"] == len(list(entrymod.queries()))
    checked = sum(rep["histogram"].values())
    assert checked + len(rep["never_gated"]) == rep["declared"]
    for n in rep["never_gated"]:
        assert n in gate, n
    oldest = set(rep["oldest_queries"])
    must_hold = min(len(oldest),
                    len(gate) - len(rep["never_gated"])
                    - DISCRETIONARY_SLOTS)
    assert len(oldest & gate) >= must_hold, (
        f"only {len(oldest & gate)} of the {len(oldest)}-query oldest "
        f"block hold gate slots; the contract requires >= {must_hold} "
        f"(gate {len(gate)}, never-gated {len(rep['never_gated'])}, "
        f"discretionary {DISCRETIONARY_SLOTS})")

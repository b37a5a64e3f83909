"""Driver-set rotation (__spark_entry__._driver_rotation_order): the
registry must surface (1) queries RED in their most recent driver
artifact, then (2) least-recently-driver-covered queries, so a failed
driver row is re-demonstrated green the very next round (round-5
VERDICT #1/#4) and the 50-row CORRECTNESS artifact still reaches every
query within ~ceil(registry/50) rounds (round-4 VERDICT #2)."""

import glob
import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402


def _artifact_state():
    here = os.path.dirname(os.path.abspath(entrymod.__file__))
    last_seen, last_result = {}, {}
    for path in glob.glob(os.path.join(here, "CORRECTNESS_r*.json")):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        rnd = int(m.group(1))
        with open(path) as fh:
            data = json.load(fh)
        for k, row in data.items():
            last_seen[k] = max(rnd, last_seen.get(k, -1))
            green = bool(
                isinstance(row, dict)
                and row.get("rows_match")
                and row.get("schema_match")
                and row.get("hash_match", True)
                and not row.get("err")
            )
            if k not in last_result or rnd > last_result[k][0]:
                last_result[k] = (rnd, green)
    return last_seen, last_result


def test_rotation_preserves_registry_and_orders_red_then_uncovered():
    reg = list(entrymod._registry())
    order = list(entrymod.queries())
    assert sorted(order) == sorted(reg)  # a permutation, nothing lost
    # deterministic
    assert order == list(entrymod.queries())
    last_seen, last_result = _artifact_state()
    if not last_seen:
        return  # fresh clone without artifacts: order == registry order
    latest_round = max(r for r, _ in last_result.values())
    reds = {
        k for k, (r, green) in last_result.items()
        if r == latest_round and not green
    }
    # reds lead the rotation (they must re-enter the driver window)
    assert order[: len(reds & set(reg))] == sorted(
        reds & set(reg), key=lambda n: last_seen.get(n, -1)
    ) or set(order[: len(reds & set(reg))]) == (reds & set(reg))
    # after the reds, the order is monotone least-recently-covered
    rest = [n for n in order if n not in reds]
    keys = [last_seen.get(n, -1) for n in rest]
    assert keys == sorted(keys)
    # every never-covered query outranks every covered non-red one
    n_uncovered = sum(1 for n in rest if n not in last_seen)
    assert all(n not in last_seen for n in rest[:n_uncovered])


def test_rotation_window_holds_reds_plus_fresh():
    """The driver window (first 50) must contain every red-last-round
    query AND fill the rest with queries absent from the latest
    artifact (while uncovered queries remain)."""
    last_seen, last_result = _artifact_state()
    if not last_seen:
        return
    latest_round = max(r for r, _ in last_result.values())
    latest = {k for k, (r, _) in last_result.items() if r == latest_round}
    reds = {
        k for k, (r, green) in last_result.items()
        if r == latest_round and not green
    }
    order = list(entrymod.queries())
    window = order[:50]
    assert reds <= set(window)  # every red re-enters the hard signal
    uncovered_total = [n for n in order if n not in latest]
    fresh = [n for n in window if n not in latest]
    budget = 50 - len(reds)
    assert len(fresh) >= min(budget, len(uncovered_total))


def test_red_row_leads_even_when_absent_from_latest_round(tmp_path, monkeypatch):
    """A query red in r1 and absent from r2 still leads: red-first keys
    on each query's own latest row, not on the globally latest round."""
    green = {"rows_match": True, "schema_match": True}
    red = {"rows_match": False, "schema_match": True}
    (tmp_path / "CORRECTNESS_r01.json").write_text(
        json.dumps({"red_q": red, "old_q": green})
    )
    (tmp_path / "CORRECTNESS_r02.json").write_text(
        json.dumps({"old_q": green})
    )
    monkeypatch.setattr(
        entrymod, "__file__", str(tmp_path / "__spark_entry__.py")
    )
    order = entrymod._driver_rotation_order(["old_q", "new_q", "red_q"])
    assert order == ["red_q", "new_q", "old_q"]

"""The correctness-window order (``__spark_entry__.window_order``) on
synthetic CORRECTNESS records: sentinels, then unproven keys, then the
changed-this-round list, then every other key stalest first."""

import __spark_entry__ as E

GREEN = {"hash_match": True}
RED = {"hash_match": False}


def test_policy_order():
    keys = ["a", "b", "c1", "s2", "new", "red", "old1", "old2", "c2", "s1",
            "mid"]
    rounds = [
        # "gone" is no longer registered: ignored in every round
        {"old2": GREEN, "old1": GREEN, "red": GREEN, "gone": RED, "a": GREEN},
        {"s1": GREEN, "s2": RED, "mid": GREEN, "red": RED, "c1": GREEN},
        {"b": GREEN, "a": GREEN, "c2": GREEN, "gone": GREEN},
    ]
    assert E.window_order(keys, rounds, ("s1", "s2"), ("c1", "c2")) == [
        "s1", "s2",        # sentinels, even when red
        "new", "red",      # no row / red latest row, in key order
        "c1", "c2",        # changed this round, though proven
        "old2", "old1",    # latest green row in round 0, file order
        "mid",             # round 1
        "b", "a",          # round 2 (a's round-0 row is superseded)
    ]


def test_no_records_keeps_declaration_order():
    assert E.window_order(["x", "y", "z"], [], ("z",), ()) == ["z", "x", "y"]


def test_registry_window_holds_sentinels_and_changed():
    # the correctness gate re-proves the first 50 keys
    keys = list(E.queries())
    assert keys[:len(E._SENTINELS)] == list(E._SENTINELS)
    assert set(E._CHANGED_THIS_ROUND) <= set(keys[:50])
